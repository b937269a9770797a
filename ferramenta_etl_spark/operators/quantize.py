"""Embedding quantization: int8 and PQ storage for 100 TB vector corpora.

A float64 Spark array costs ~8 bytes/dim on the wire and in parquet; a
100 TB corpus of 768-dim embeddings spends most of its bytes there.
Two rungs of the standard vector-compression ladder:

- **int8** (`q = round(x * 127 / amax)`, one float32 scale per vector):
  ~4-8x smaller, cosine rankings nearly intact, needs no training.
  Pure SQL projection (codegen, no UDF, no shuffle); scoring runs the
  integer dot fold on tinyint arrays directly — the scale factors
  multiply once per PAIR, not once per element.
- **Product quantization** (PQ; Jegou/Douze/Schmid, "Product
  Quantization for Nearest Neighbor Search", TPAMI 2011): split each
  vector into ``m`` subvectors, k-means each subspace into <=256
  codewords, store one byte per subvector — a 768-dim float64 vector
  (6144 B) becomes m=96 bytes + one float norm, ~60x. Queries score
  against codes by Asymmetric Distance Computation (ADC): one
  (m x codes) lookup table per query, built once, then every corpus
  vector's score is m table lookups — no decode. Training is a bounded
  driver-side sample; encode and scan are narrow Arrow-batched maps
  (codebooks ride along as task-broadcast closures, like the IVF
  centroid matrix in operators/similarity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q_embedding",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Replace ``vec_col`` with (tinyint array, float scale). Zero
    vectors get scale 0 and an all-zero code (dequantizes to zeros).
    scale = amax/127, so dequantization is ``code * scale``."""
    v = F.col(vec_col)
    amax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    # scale MUST be a materialized column before the code transform: an
    # outer expression referenced inside a HOF lambda re-evaluates per
    # element (the amax fold would run dim times per row — measured 3x
    # on the whole quantized-topk bench entry; see hof-lambda trap notes
    # in operators/text._gram_zip)
    with_scale = df.withColumn(scale_col, (amax / F.lit(127.0)).cast("double"))
    scale = F.col(scale_col)
    # the guard must be "finite AND positive": NaN compares GREATER than
    # 0 in Spark, so a NaN amax (corrupt vector) would take the quantize
    # branch and abort on the tinyint cast. Non-finite vectors get
    # scale 0 + all-zero code — the downstream zero-norm policy then
    # drops them from every ranking.
    usable = scale > 0
    for bad in (F.isnan(scale), scale == F.lit(float("inf"))):
        usable = usable & ~bad
    code = F.when(usable, F.transform(
        v, lambda x: F.round(x.cast("double") / scale).cast("tinyint")
    )).otherwise(F.transform(v, lambda x: F.lit(0).cast("tinyint")))
    return (
        with_scale.withColumn(
            scale_col, F.when(usable, scale).otherwise(F.lit(0.0))
        )
        .withColumn(q_col, code)
        .drop(vec_col)
    )


def dequantize(q: Column, scale: Column) -> Column:
    """array<double> reconstruction: code * scale per element."""
    return F.transform(q, lambda c: c.cast("double") * scale)


def _int_dot(a: str, b: str) -> str:
    """Integer dot fold over two tinyint arrays — the accumulator stays
    a BIGINT (128*128*dim fits for any realistic dim), so the fold is
    pure integer codegen; the float scales enter once at the end."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    q_col: str = "q_embedding",
    scale_col: str = "q_scale",
    query_id_col: str = "query_id",
    query_q_col: str = "query_q",
    query_scale_col: str = "query_scale",
) -> DataFrame:
    """Brute-force cosine top-k entirely in the quantized domain.

    cos(a, b) ~= (Sa*Sb*intdot(qa, qb)) / (Sa*|qa| * Sb*|qb|) — the
    scales cancel, so the score is intdot/(|qa|*|qb|) on integer codes:
    the per-pair hot loop is an integer multiply-add fold, no float math
    until the final division. Same two-phase top-k + id tiebreak shape
    as the exact operator (operators/similarity.cosine_topk)."""
    from .topk import grouped_topk

    # zero-norm policy via the SCALE column: scale > 0 iff the code
    # vector is nonzero (the amax element always maps to +-127), so the
    # filter is an O(1) column test. Filtering on __cn itself would
    # duplicate the integer-dot fold (filter + projection both evaluate
    # it -- measured 2.5x on the bench entry).
    c = corpus.filter(F.col(scale_col) > 0).select(
        F.col(id_col),
        F.col(q_col),
        F.expr(f"sqrt(CAST({_int_dot(q_col, q_col)} AS DOUBLE))").alias("__cn"),
    )
    q = queries.filter(F.col(query_scale_col) > 0).select(
        F.col(query_id_col),
        F.col(query_q_col),
        F.expr(
            f"sqrt(CAST({_int_dot(query_q_col, query_q_col)} AS DOUBLE))"
        ).alias("__qn"),
    )
    sim = F.expr(
        f"round(CAST({_int_dot(query_q_col, q_col)} AS DOUBLE) / (__qn * __cn), 6)"
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col), F.col(id_col), sim.alias("sim")
    )
    order = [F.col("sim").desc(), F.col(id_col).asc()]
    return grouped_topk(scored, [query_id_col], order, k).select(
        query_id_col, id_col, "sim", "rnk"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) + ADC scan
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    codes: int = 256,
    sample_rows: int = 16384,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> list[list[list[float]]]:
    """Train PQ codebooks: L2 k-means per subspace on a bounded,
    deterministic corpus sample (the first ``sample_rows`` usable
    vectors by id — one TakeOrdered job, same determinism rationale as
    similarity.derive_centroids; at 100 TB the sample, not the corpus,
    is what training ever touches). Returns ``m x codes x (dim/m)``
    plain lists — JSON-serializable index metadata.

    Deterministic throughout: seeded initial codeword choice, Lloyd
    updates as batch means, empty cells keep their previous codeword
    (the k-means analogue of lloyd_refine's empty-bucket rule)."""
    import numpy as np

    if codes > 256:
        raise ValueError("codes must be <= 256 (one byte per subvector)")
    rows = (
        corpus.select(id_col, vec_col)
        .filter(
            F.expr(
                f"aggregate({vec_col}, true, (a, x) -> a AND NOT isnan(x)"
                f" AND abs(x) != double('inf'))"
            )
        )
        .orderBy(F.col(id_col).asc())
        .limit(sample_rows)
        .collect()
    )
    x = np.array([list(r[1]) for r in rows], dtype=np.float64)
    return _subspace_kmeans(x, m, codes, iters, seed)


def _subspace_kmeans(x, m: int, codes: int, iters: int, seed: int):
    """Per-subspace Lloyd k-means on a driver-side numpy sample —
    shared by raw-vector PQ and residual (IVF-PQ) training."""
    import numpy as np

    if x.ndim != 2 or len(x) == 0:
        raise ValueError(
            "no usable training vectors (empty corpus, or every vector "
            "non-finite) — PQ codebooks need a non-empty finite sample"
        )
    n, dim = x.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    k = min(codes, n)
    dsub = dim // m
    rng = np.random.RandomState(seed)
    out = []
    for j in range(m):
        xj = x[:, j * dsub : (j + 1) * dsub]
        cb = xj[rng.choice(n, k, replace=False)].copy()
        for _ in range(iters):
            # d2 = |c|^2 - 2 x.c (the |x|^2 term is constant per row)
            d2 = (cb * cb).sum(axis=1)[None, :] - 2.0 * (xj @ cb.T)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = xj[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        out.append(cb.tolist())
    return out


def _pq_arrays(codebooks):
    """(cb, cbn2) numpy views of the codebook lists: cb is
    (m, codes, dsub), cbn2 the per-codeword squared norms (m, codes)."""
    import numpy as np

    cb = np.array(codebooks, dtype=np.float64)
    return cb, (cb * cb).sum(axis=2)


def train_opq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    codes: int = 256,
    sample_rows: int = 16384,
    iters: int = 10,
    opq_iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """OPQ: learn an orthonormal rotation R alongside the PQ codebooks
    (Ge/He/Ke/Sun, "Optimized Product Quantization", CVPR 2013 — the
    non-parametric alternation): k-means the ROTATED sample, then solve
    the orthogonal procrustes problem R = argmin |XR - recon|_F (SVD of
    X^T recon), repeat. Axis-aligned subspace splits are the weak spot
    of plain PQ on anisotropic data — on a decaying-spectrum fixture
    the rotation cuts quantization distortion ~2.9x at the same code
    budget (pinned in tests). Rotation preserves inner products and
    norms, so every downstream cosine is unchanged in meaning: encode
    rotates corpus vectors, serve rotates queries, rerank uses raw
    vectors. Returns (rotation, codebooks) — both JSON-serializable
    index metadata."""
    import numpy as np

    if codes > 256:
        raise ValueError("codes must be <= 256 (one byte per subvector)")
    rows = (
        corpus.select(id_col, vec_col)
        .filter(
            F.expr(
                f"aggregate({vec_col}, true, (a, x) -> a AND NOT isnan(x)"
                f" AND abs(x) != double('inf'))"
            )
        )
        .orderBy(F.col(id_col).asc())
        .limit(sample_rows)
        .collect()
    )
    x = np.array([list(r[1]) for r in rows], dtype=np.float64)
    if x.ndim != 2 or len(x) == 0:
        raise ValueError(
            "no usable training vectors (empty corpus, or every vector "
            "non-finite) — OPQ needs a non-empty finite sample"
        )
    dim = x.shape[1]
    rot = np.eye(dim)

    def _encode_sample(xr, cbs_):
        cb, cbn2 = _pq_arrays(cbs_)
        dsub = cb.shape[2]
        recon = np.empty_like(xr)
        for j in range(cb.shape[0]):
            sub = xr[:, j * dsub : (j + 1) * dsub]
            d2 = cbn2[j][None, :] - 2.0 * (sub @ cb[j].T)
            recon[:, j * dsub : (j + 1) * dsub] = cb[j][d2.argmin(axis=1)]
        return recon

    cbs = _subspace_kmeans(x, m, codes, iters, seed)
    for _ in range(opq_iters):
        recon = _encode_sample(x @ rot, cbs)
        u, _, vt = np.linalg.svd(x.T @ recon)
        rot = u @ vt
        cbs = _subspace_kmeans(x @ rot, m, codes, iters, seed)
    return rot.tolist(), cbs


# moved to operators/_qmatrix.py so the Arrow cosine scorer shares the
# same guard text and vector-usability rules as the ADC paths
from ._qmatrix import collect_query_matrix as _collect_query_matrix  # noqa: E402


def _empty_topk(spark, scored_schema, query_id_col: str, id_col: str):
    """Schema-correct empty result for a top-k serve with no usable
    queries — (query_id, vec_id, sim, rnk), zero rows."""
    from pyspark.sql import types as T

    fields = list(scored_schema.fields) + [T.StructField("rnk", T.IntegerType())]
    return spark.createDataFrame([], T.StructType(fields)).select(
        query_id_col, id_col, "sim", "rnk"
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    norm_col: str = "pq_norm",
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """Encode each vector as ``m`` one-byte codes (array<tinyint>,
    stored as argmin - 128) plus the reconstruction norm
    ``|x_hat| = sqrt(sum_j |c_j|^2)`` (the subspaces are disjoint
    coordinate blocks, so squared norms add). A narrow Arrow-batched
    map — no shuffle, output partitioning == input partitioning; the
    codebook matrix is a task-broadcast closure. Non-finite vectors
    and vectors whose reconstruction is the origin get norm 0 — the
    family's zero-norm policy (they drop from every ranking).
    ``rotation`` (from train_opq_codebooks) applies the OPQ rotation in
    the same Arrow pass — one extra batch matmul, no extra scan."""
    import numpy as np

    from pyspark.sql import types as T

    cb, cbn2 = _pq_arrays(codebooks)
    m = cb.shape[0]
    dsub = cb.shape[2]
    rot = None if rotation is None else np.array(rotation, dtype=np.float64)
    in_fields = {f.name: f for f in corpus.schema.fields}
    schema = T.StructType(
        [
            in_fields[id_col],
            T.StructField(code_col, T.ArrayType(T.ByteType())),
            T.StructField(norm_col, T.DoubleType()),
        ]
    )

    def batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            ok = np.isfinite(x).all(axis=1)
            x = np.where(ok[:, None], x, 0.0)
            if rot is not None:
                x = x @ rot
            idx = np.empty((len(x), m), dtype=np.int64)
            n2 = np.zeros(len(x))
            for j in range(m):
                xj = x[:, j * dsub : (j + 1) * dsub]
                d2 = cbn2[j][None, :] - 2.0 * (xj @ cb[j].T)
                idx[:, j] = d2.argmin(axis=1)
                n2 += cbn2[j][idx[:, j]]
            idx[~ok] = 0
            norm = np.where(ok, np.sqrt(n2), 0.0)
            code8 = (idx - 128).astype(np.int8)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    code_col: list(code8),
                    norm_col: norm,
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(batches, schema)


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    norm_col: str = "pq_norm",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_queries: int = 4096,
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate cosine top-k over PQ codes by ADC.

    The query side is the BOUNDED side (same contract as cosine_topk's
    broadcast): queries collect to the driver once, each becomes an
    (m x codes) lookup table of partial dot products
    ``LUT[j][c] = q_j . codebook_j[c]``, and the tables ship to tasks
    as one numpy closure. Scoring a corpus vector is then m table
    lookups summed — the codes are never decoded — normalized by
    ``|q| * |x_hat|`` for the cosine approximation. Each Arrow batch
    emits only its LOCAL top-k per query (ties broken by ascending id,
    the family's total order), so at most Q*k rows per batch reach the
    final grouped_topk exchange."""
    import numpy as np

    from pyspark.sql import types as T

    from .topk import grouped_topk

    cb, _ = _pq_arrays(codebooks)
    m = cb.shape[0]
    qids, qmat, qn = _collect_query_matrix(
        queries, query_id_col, query_vec_col, max_queries
    )
    if rotation is not None and len(qids):
        # rotate queries into the OPQ-encoded space; the rotation is
        # orthonormal so norms and cosines are unchanged in meaning
        qmat = qmat @ np.array(rotation, dtype=np.float64)
    in_fields = {f.name: f for f in codes_df.schema.fields}
    qid_field = {f.name: f for f in queries.schema.fields}[query_id_col]
    schema = T.StructType(
        [
            T.StructField(query_id_col, qid_field.dataType),
            in_fields[id_col],
            T.StructField("sim", T.DoubleType()),
        ]
    )
    if len(qids) == 0:
        # no usable queries -> empty result, not a numpy crash
        return _empty_topk(queries.sparkSession, schema, query_id_col, id_col)
    # LUT: (Q, m, codes) partial dots of each query subvector with every
    # codeword of that subspace
    dsub = cb.shape[2]
    lut = np.stack(
        [qmat[:, j * dsub : (j + 1) * dsub] @ cb[j].T for j in range(m)], axis=1
    )

    # ADVICE r07: the ADC accumulator is (Q_chunk x batch) float64 —
    # chunking the QUERY axis bounds task-side memory at ~256 x 10k x 8 B
    # ≈ 20 MB per concurrent task regardless of max_queries (at the old
    # full-Q width, 4096 queries x a 10k-row Arrow batch was ~330 MB per
    # task — an executor hazard the driver-side max_queries guard never
    # reasoned about). Results are identical: each chunk emits its own
    # per-query batch top-k and grouped_topk merges across batches.
    q_chunk = 256

    def batches(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            idx = (
                np.stack([np.asarray(c, dtype=np.int64) for c in pdf[code_col]])
                + 128
            )
            norms = pdf[norm_col].values
            ids = pdf[id_col].values
            take = min(k, len(pdf))
            q_out, i_out, s_out = [], [], []
            for q0 in range(0, len(qids), q_chunk):
                q1 = min(q0 + q_chunk, len(qids))
                acc = np.zeros((q1 - q0, len(pdf)))
                for j in range(m):
                    acc += lut[q0:q1, j, idx[:, j]]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = np.round(
                        acc / (qn[q0:q1, None] * norms[None, :]), 6
                    )
                sims[:, norms <= 0] = -np.inf
                for qi in range(q1 - q0):
                    best = np.lexsort((ids, -sims[qi]))[:take]
                    best = best[np.isfinite(sims[qi][best])]
                    q_out.extend([qids[q0 + qi]] * len(best))
                    i_out.extend(ids[best])
                    s_out.extend(sims[qi][best])
            if q_out:
                yield pd.DataFrame(
                    {query_id_col: q_out, id_col: i_out, "sim": s_out}
                )

    scored = codes_df.select(id_col, code_col, norm_col).mapInPandas(
        batches, schema
    )
    order = [F.col("sim").desc(), F.col(id_col).asc()]
    return grouped_topk(scored, [query_id_col], order, k).select(
        query_id_col, id_col, "sim", "rnk"
    )


def pq_topk_rerank(
    codes_df: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    norm_col: str = "pq_norm",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """The standard PQ serving composition: ADC shortlists
    ``shortlist`` (default 4k) candidates per query from codes alone,
    then ONLY those rows re-rank by exact cosine against their raw
    vectors. The full corpus is still never scored exactly — the
    shortlist ids broadcast into the raw-vector scan (Q * shortlist
    rows survive it), so the exact math touches a vanishing fraction of
    a 100 TB corpus while repairing ADC's within-cluster ranking noise
    (recall-tested: coarse codebooks that rank at ~0.8 alone serve at
    ~1.0 with a 4k shortlist)."""
    sl = shortlist if shortlist is not None else 4 * k
    cand = pq_topk(
        codes_df,
        queries,
        codebooks,
        k=sl,
        id_col=id_col,
        code_col=code_col,
        norm_col=norm_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        rotation=rotation,
    ).select(query_id_col, id_col)
    # the exact phase uses RAW vectors and UNrotated queries: the
    # rotation is orthonormal, so true cosines are identical either way
    return _exact_rerank(
        cand, corpus, queries, k, id_col, vec_col, query_id_col, query_vec_col
    )


def _exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Exact-cosine rerank of a (query_id, vec_id) candidate set: the
    candidate ids broadcast into the raw-vector scan, so only Q *
    shortlist rows are ever scored exactly."""
    from .similarity import _dot_sql, _norm_sql
    from .topk import grouped_topk

    sim = F.expr(
        f"round({_dot_sql(vec_col, query_vec_col)} / "
        f"({_norm_sql(vec_col)} * {_norm_sql(query_vec_col)}), 6)"
    )
    # usable-vector filter like every other exact-cosine path: a finite
    # all-zero corpus vector can reach the shortlist (its pq_norm is the
    # nearest CODEWORDS' norm, not its own), and 0/0 -> NaN sorts ABOVE
    # every real sim in Spark's DESC order — rank-1 garbage
    from .similarity import _usable_vec_sql

    scored = (
        corpus.select(id_col, vec_col)
        .filter(F.expr(_usable_vec_sql(vec_col)))
        .join(F.broadcast(cand), id_col)
        .join(
            F.broadcast(queries.select(query_id_col, query_vec_col)),
            query_id_col,
        )
        .select(F.col(query_id_col), F.col(id_col), sim.alias("sim"))
    )
    order = [F.col("sim").desc(), F.col(id_col).asc()]
    return grouped_topk(scored, [query_id_col], order, k).select(
        query_id_col, id_col, "sim", "rnk"
    )


def build_pq_index(
    corpus: DataFrame,
    path: str,
    m: int = 8,
    codes: int = 256,
    train_iters: int = 10,
    sample_rows: int = 16384,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Materialize the PQ index: the encoded corpus as parquet plus the
    trained codebooks as a JSON sidecar — what a PQ index IS at 100 TB:
    one-byte-per-subvector storage + tiny metadata (m*codes*dsub floats).
    Serving reads only codes and norms, never the raw vectors (see
    pq_topk_on_index; same sidecar pattern as similarity.build_ivf_index)."""
    import json
    import os

    cbs = train_pq_codebooks(
        corpus, m, codes, sample_rows, train_iters, id_col, vec_col
    )
    pq_encode(corpus, cbs, id_col, vec_col).write.mode("overwrite").parquet(path)
    with open(os.path.join(path, "_pq_codebooks.json"), "w") as f:
        json.dump(cbs, f)
    return cbs


def build_opq_index(
    corpus: DataFrame,
    path: str,
    m: int = 8,
    codes: int = 256,
    train_iters: int = 10,
    opq_iters: int = 8,
    sample_rows: int = 16384,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Materialize an OPQ index: same layout as build_pq_index plus the
    learned rotation as a second sidecar. pq_topk_on_index and
    append_to_pq_index detect the rotation sidecar and apply it, so
    OPQ indexes serve and grow through the exact same surface (and the
    ann-query CLI's kind auto-detection keeps working unchanged)."""
    import json
    import os

    rot, cbs = train_opq_codebooks(
        corpus, m, codes, sample_rows, train_iters, opq_iters, id_col, vec_col
    )
    pq_encode(corpus, cbs, id_col, vec_col, rotation=rot).write.mode(
        "overwrite"
    ).parquet(path)
    with open(os.path.join(path, "_pq_codebooks.json"), "w") as f:
        json.dump(cbs, f)
    with open(os.path.join(path, "_opq_rotation.json"), "w") as f:
        json.dump(rot, f)
    return rot, cbs


def load_pq_codebooks(path: str) -> list[list[list[float]]]:
    import json
    import os

    with open(os.path.join(path, "_pq_codebooks.json")) as f:
        return [
            [[float(x) for x in c] for c in book] for book in json.load(f)
        ]


def _load_pq_rotation(path: str) -> list[list[float]] | None:
    import json
    import os

    p = os.path.join(path, "_opq_rotation.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return [[float(x) for x in row] for row in json.load(f)]


def pq_topk_on_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Serve approximate top-k from a persisted PQ index: the scan reads
    one byte per subvector per corpus row (plus the norm) — at m=8 over
    768-dim float64 that is ~0.2% of the raw-vector bytes. An OPQ
    index's rotation sidecar is detected and applied transparently."""
    cbs = load_pq_codebooks(path)
    codes_df = spark.read.parquet(path)
    return pq_topk(
        codes_df,
        queries,
        cbs,
        k=k,
        id_col=id_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        rotation=_load_pq_rotation(path),
    )


# ---------------------------------------------------------------------------
# IVF-PQ (IVFADC): coarse quantizer + PQ on residuals
# ---------------------------------------------------------------------------


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    codes: int = 256,
    train_iters: int = 1,
    pq_iters: int = 10,
    sample_rows: int = 16384,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> dict:
    """Build an IVF-PQ index — the canonical billion-scale ANN layout
    (FAISS's IVFADC; Jegou/Douze/Schmid TPAMI 2011 §V): vectors bucket
    under their nearest coarse centroid (similarity.assign_ivf_buckets,
    reusing the IVF trainer) and PQ encodes each vector's RESIDUAL
    ``x - centroid``. Residuals span only the within-bucket spread, so
    the same code budget quantizes far finer than raw-vector PQ
    (recall-tested: 0.625 vs 0.37 at m=8/codes=64 on the clustered
    fixture). Storage: hive-partitioned by ``centroid_id`` (serving
    prunes to the probed partitions at the DIRECTORY level) with one
    byte per subvector plus the reconstruction norm; metadata (coarse
    centroids + codebooks) is a JSON sidecar."""
    import json
    import os

    import numpy as np

    from .similarity import assign_ivf_buckets, derive_centroids, lloyd_refine

    if codes > 256:
        # same loud guard as train_pq_codebooks: codewords past 255
        # would WRAP in the one-byte (idx - 128) tinyint encoding and
        # serve silently wrong neighbors
        raise ValueError("codes must be <= 256 (one byte per subvector)")
    cents = derive_centroids(corpus, n_centroids, id_col, vec_col)
    if train_iters:
        cents = lloyd_refine(corpus, cents, train_iters, id_col, vec_col)
    bucketed = assign_ivf_buckets(corpus, cents, id_col, vec_col)

    cid2vec = {int(c): np.array(v, dtype=np.float64) for c, v in cents}
    sample = (
        bucketed.select(id_col, vec_col, "centroid_id")
        .orderBy(F.col(id_col).asc())
        .limit(sample_rows)
        .collect()
    )
    resid = np.array(
        [
            np.asarray(list(r[1]), dtype=np.float64) - cid2vec[int(r[2])]
            for r in sample
        ]
    )
    cbs = _subspace_kmeans(resid, m, codes, pq_iters, seed)

    encoded = _ivfpq_encode(bucketed, cents, cbs, id_col, vec_col)
    encoded.write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    meta = {
        "centroids": [[int(c), [float(x) for x in v]] for c, v in cents],
        "codebooks": cbs,
    }
    with open(os.path.join(path, "_ivfpq_meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def _ivfpq_encode(
    bucketed: DataFrame,
    cents,
    cbs: list[list[list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Residual-PQ encode of a bucketed (id, vec, centroid_id) frame
    with FROZEN centroids and codebooks — shared by the index build and
    incremental append. Narrow Arrow-batched map; centroid fetches are
    one vectorized gather per batch (sorted-id searchsorted), not a
    per-row Python dict lookup."""
    import numpy as np

    from pyspark.sql import types as T

    cid2vec = {int(c): np.array(v, dtype=np.float64) for c, v in cents}
    cb, cbn2 = _pq_arrays(cbs)
    m, dsub = cb.shape[0], cb.shape[2]
    cid_keys = np.array(sorted(cid2vec), dtype=np.int64)
    cmat_all = np.stack([cid2vec[int(c)] for c in cid_keys])
    in_fields = {f.name: f for f in bucketed.schema.fields}
    schema = T.StructType(
        [
            in_fields[id_col],
            T.StructField("pq_code", T.ArrayType(T.ByteType())),
            T.StructField("pq_norm", T.DoubleType()),
            T.StructField("centroid_id", T.LongType()),
        ]
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            cids = pdf["centroid_id"].values
            cmat = cmat_all[np.searchsorted(cid_keys, cids.astype(np.int64))]
            r = x - cmat
            ok = np.isfinite(x).all(axis=1)
            r = np.where(ok[:, None], r, 0.0)
            idx = np.empty((len(x), m), dtype=np.int64)
            for j in range(m):
                rj = r[:, j * dsub : (j + 1) * dsub]
                idx[:, j] = (cbn2[j][None, :] - 2.0 * (rj @ cb[j].T)).argmin(
                    axis=1
                )
            idx[~ok] = 0
            # |x_hat| is the norm of centroid + reconstructed residual —
            # the quantity the ADC cosine divides by at serve time
            recon = cmat + np.concatenate(
                [cb[j][idx[:, j]] for j in range(m)], axis=1
            )
            norm = np.where(ok, np.sqrt((recon * recon).sum(axis=1)), 0.0)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "pq_code": list((idx - 128).astype(np.int8)),
                    "pq_norm": norm,
                    "centroid_id": cids,
                }
            )

    return bucketed.select(id_col, vec_col, "centroid_id").mapInPandas(
        batches, schema
    )


def append_to_pq_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incrementally grow a persisted PQ index: encode the new batch
    with the index's FROZEN codebooks (codebooks are immutable index
    metadata — retraining would silently re-meaning every stored code)
    and land it through the idempotent sink, so appends are
    exactly-once per vector id: reruns and overlapping batches add
    zero duplicates, first writer wins. Returns rows appended."""
    from ..sinks import write_ignore_conflicts

    cbs = load_pq_codebooks(path)
    encoded = pq_encode(
        new_vectors, cbs, id_col, vec_col, rotation=_load_pq_rotation(path)
    )
    return write_ignore_conflicts(encoded, path, keys=[id_col])


def append_to_ivfpq_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Incrementally grow a persisted IVF-PQ index: bucket the new
    batch under the index's frozen coarse centroids, residual-encode
    with its frozen codebooks, and append through the idempotent sink.

    First-writer-wins is by ``vec_id`` ALONE — but the partitioned sink
    keys on (centroid_id, vec_id), and a conflicting id arriving with
    DIFFERENT content can bucket under a different centroid, where the
    composite key would not collide (caught by the incremental-append
    test). So conflicting ids are dropped by an explicit id-level
    anti-join against the index BEFORE encoding (one id-column scan).

    The WHOLE anti-join -> encode -> append sequence runs under the
    sink's writer lock (ADVICE r07: with the anti-join outside it, two
    concurrent appends of the same new id with DIFFERENT content could
    both pass, bucket under different centroids, and the composite sink
    key would not collide — a duplicate vec_id in the index). The
    append therefore calls the locked parquet body directly instead of
    write_ignore_conflicts (whose own lock acquisition would deadlock
    on the non-reentrant lock)."""
    from ..sinks.idempotent import _sink_lock, _write_parquet_locked
    from .similarity import assign_ivf_buckets

    meta = load_ivfpq_meta(path)
    cents = [(int(c), [float(x) for x in v]) for c, v in meta["centroids"]]
    cbs = [[[float(x) for x in c] for c in book] for book in meta["codebooks"]]
    with _sink_lock(spark, path):
        existing = spark.read.parquet(path).select(id_col)
        fresh = new_vectors.join(existing, id_col, "left_anti").dropDuplicates(
            [id_col]
        )
        bucketed = assign_ivf_buckets(fresh, cents, id_col, vec_col)
        encoded = _ivfpq_encode(bucketed, cents, cbs, id_col, vec_col)
        return _write_parquet_locked(
            spark,
            encoded,
            path,
            keys=["centroid_id", id_col],
            partition_cols=["centroid_id"],
        )


def load_ivfpq_meta(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "_ivfpq_meta.json")) as f:
        return json.load(f)


def ivfpq_topk(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    k: int = 5,
    corpus: DataFrame | None = None,
    shortlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    max_queries: int = 4096,
) -> DataFrame:
    """Serve approximate cosine top-k from a persisted IVF-PQ index.

    Per query batch (the bounded side, collected once): coarse probes
    are the ``nprobe`` nearest centroids (driver-side numpy — the
    centroid matrix IS index metadata), the scan reads ONLY the probed
    ``centroid_id=`` partitions, and scoring is ADC with the IVFADC
    decomposition ``q . x_hat = q . c + q . r_hat``: one (m x codes)
    residual lookup table per query plus one scalar ``q . c`` per
    (query, probed centroid). Each Arrow batch emits its local top-k
    per query, so at most Q*k rows per batch reach the final exchange.
    Passing ``corpus`` upgrades to the serving composition: ADC
    shortlists ``shortlist`` (default 4k) candidates, then exact cosine
    re-ranks just those rows (_exact_rerank)."""
    import numpy as np

    from pyspark.sql import types as T

    from .topk import grouped_topk

    meta = load_ivfpq_meta(path)
    cents = meta["centroids"]
    cbs = [
        [[float(x) for x in c] for c in book] for book in meta["codebooks"]
    ]
    cb, _ = _pq_arrays(cbs)
    m, dsub = cb.shape[0], cb.shape[2]
    cids = np.array([int(c) for c, _ in cents], dtype=np.int64)
    cmat = np.array([list(map(float, v)) for _, v in cents], dtype=np.float64)
    cnorms = np.sqrt((cmat * cmat).sum(axis=1))

    qids, qmat, qn = _collect_query_matrix(
        queries, query_id_col, query_vec_col, max_queries
    )
    qid_field = {f.name: f for f in queries.schema.fields}[query_id_col]
    id_field_src = spark.read.parquet(path).schema
    in_fields = {f.name: f for f in id_field_src.fields}
    schema = T.StructType(
        [
            T.StructField(query_id_col, qid_field.dataType),
            in_fields[id_col],
            T.StructField("sim", T.DoubleType()),
        ]
    )
    if len(qids) == 0:
        return _empty_topk(spark, schema, query_id_col, id_col)
    # probes: same (cosine desc, centroid_id asc) total order as IVF
    csim = (qmat @ cmat.T) / (qn[:, None] * cnorms[None, :])
    take = min(nprobe, len(cids))
    order_ = np.argsort(-csim, axis=1, kind="stable")[:, :take]
    probe_sets = [np.sort(cids[row]) for row in order_]
    qdotc = qmat @ cmat.T  # (Q, C) — the q.c term of the decomposition
    # vectorized centroid_id -> row position in cmat (no per-row Python
    # dict lookups inside the Arrow batches): searchsorted over the
    # sorted ids, remapped to original positions
    cid_sort = np.argsort(cids)
    cids_sorted = cids[cid_sort]
    lut = np.stack(
        [qmat[:, j * dsub : (j + 1) * dsub] @ cb[j].T for j in range(m)],
        axis=1,
    )

    probed_union = sorted({int(c) for s in probe_sets for c in s})
    index = spark.read.parquet(path).filter(
        F.col("centroid_id").isin(probed_union)
    )
    sl = (shortlist if shortlist is not None else 4 * k) if corpus is not None else k

    def batches(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0 or len(qids) == 0:
                continue
            idx = (
                np.stack([np.asarray(c, dtype=np.int64) for c in pdf["pq_code"]])
                + 128
            )
            row_cids = pdf["centroid_id"].values.astype(np.int64)
            row_cpos = cid_sort[np.searchsorted(cids_sorted, row_cids)]
            norms = pdf["pq_norm"].values
            ids = pdf[id_col].values
            q_out, i_out, s_out = [], [], []
            for qi in range(len(qids)):
                mask = np.isin(row_cids, probe_sets[qi]) & (norms > 0)
                sel = np.nonzero(mask)[0]
                if len(sel) == 0:
                    continue
                acc = qdotc[qi][row_cpos[sel]]
                for j in range(m):
                    acc = acc + lut[qi, j, idx[sel, j]]
                sims = np.round(acc / (qn[qi] * norms[sel]), 6)
                best = np.lexsort((ids[sel], -sims))[: min(sl, len(sel))]
                q_out.extend([qids[qi]] * len(best))
                i_out.extend(ids[sel[best]])
                s_out.extend(sims[best])
            if q_out:
                yield pd.DataFrame(
                    {query_id_col: q_out, id_col: i_out, "sim": s_out}
                )

    scored = index.select(id_col, "pq_code", "pq_norm", "centroid_id").mapInPandas(
        batches, schema
    )
    order = [F.col("sim").desc(), F.col(id_col).asc()]
    if corpus is None:
        return grouped_topk(scored, [query_id_col], order, k).select(
            query_id_col, id_col, "sim", "rnk"
        )
    cand = grouped_topk(scored, [query_id_col], order, sl).select(
        query_id_col, id_col
    )
    return _exact_rerank(
        cand, corpus, queries, k, id_col, vec_col, query_id_col, query_vec_col
    )
