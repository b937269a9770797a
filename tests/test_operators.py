"""Operator-level invariants not covered by the SQL oracles:
LSH vs exact Jaccard agreement, IVF recall vs brute force, JDBC option
plumbing, latest_per_key determinism."""

import pytest
from pyspark.sql import functions as F

from ferramenta_etl_spark.operators import dedup as D
from ferramenta_etl_spark.operators import similarity as S
from ferramenta_etl_spark.sources import load_table
from ferramenta_etl_spark.sources.jdbc import JdbcConfig, table_scan_options


def test_latest_per_key_deterministic(spark):
    rows = [(1, 10, "x"), (1, 10, "a"), (1, 9, "z"), (2, 5, "q")]
    df = spark.createDataFrame(rows, "k int, ord int, v string")
    out = {
        r.k: (r.ord, r.v)
        for r in D.latest_per_key(
            df, ["k"], [F.col("ord").desc()], tiebreak=["v"]
        ).collect()
    }
    # k=1: ord=10 twice -> tiebreak picks v='a'
    assert out == {1: (10, "a"), 2: (5, "q")}


def test_minhash_lsh_approximates_exact_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = D.tokenset_jaccard_pairs(docs, threshold=0.9, length_bucket=10**9)
    exact_pairs = {(r.doc_id_a, r.doc_id_b) for r in exact.collect()}
    # shingle_k=1 so MinHash estimates the SAME token-set Jaccard the
    # exact operator computes (the default k=3 shingle sets are a
    # different, stricter similarity)
    lsh = D.minhash_lsh_pairs(docs, num_hashes=32, bands=8, shingle_k=1, threshold=0.5)
    lsh_pairs = {(r.doc_id_a, r.doc_id_b) for r in lsh.collect()}
    assert exact_pairs, "fixture should contain >=1 highly-similar pair"
    recall = len(exact_pairs & lsh_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"LSH recall {recall:.2f} too low ({len(exact_pairs)} truth pairs)"


def test_simhash_pairs_are_actually_similar(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_near_dup_pairs(docs, max_hamming=3).limit(20).collect()
    assert all(p.hamming <= 3 for p in pairs)


def test_ivf_recall_against_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 10).select("vec_id", "embedding")
    exact = {
        (r.query_id, r.vec_id) for r in S.cosine_topk(corpus, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in S.ivf_topk(corpus, queries, n_centroids=8, nprobe=4, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    # unclustered synthetic vectors: IVF probing half the buckets should
    # still recover a solid fraction of the true top-k
    assert recall >= 0.4, f"IVF recall {recall:.2f}"


def test_ivf_arrow_path_matches_literal(spark, sf_dir):
    """The Arrow matmul scorer and the literal-expression scorer are the
    same coarse quantizer: identical bucket assignments and probe sets
    (up to measure-zero rounding ties) on the same centroids."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = S.derive_centroids(emb, 16)
    lit = {r.vec_id: r.centroid_id for r in S.assign_ivf_buckets(emb, cents).collect()}
    arr = {
        r.vec_id: r.centroid_id
        for r in S._assign_buckets_arrow(emb, cents, "vec_id", "embedding", False).collect()
    }
    assert set(lit) == set(arr)
    agree = sum(lit[v] == arr[v] for v in lit) / len(lit)
    assert agree >= 0.99, f"assignment agreement {agree:.3f}"

    q = emb.limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    lp = {(r.query_id, r.centroid_id) for r in S._query_probes(q, cents, 4).collect()}
    ap = {
        (r.query_id, r.centroid_id)
        for r in S._query_probes_arrow(q, cents, 4, "query_id", "query_vec").collect()
    }
    assert len(lp & ap) / len(lp) >= 0.95, f"probe agreement {len(lp & ap)}/{len(lp)}"


def test_ivf_large_k_arrow_dispatch(spark, sf_dir, tmp_path):
    """n_centroids past LITERAL_CENTROID_MAX routes through the Arrow
    path: a 256-centroid index assigns, builds, persists, and serves with
    solid recall — the plan no longer embeds centroid literals, so its
    size is constant in n_centroids (the round-2 scale ceiling)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 10).select("vec_id", "embedding")
    exact = {
        (r.query_id, r.vec_id) for r in S.cosine_topk(corpus, queries, k=5).collect()
    }
    assert 256 > S.LITERAL_CENTROID_MAX
    approx_df = S.ivf_topk(
        corpus, queries, n_centroids=256, nprobe=128, k=5, train_iters=0
    )
    # constant-size plan: no centroid literal arrays in the analyzed plan
    plan = approx_df._jdf.queryExecution().analyzed().toString()
    assert "zip_with(array(" not in plan
    approx = {(r.query_id, r.vec_id) for r in approx_df.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"large-k IVF recall {recall:.2f}"

    # persisted-index round trip through the same large-k dispatch
    path = str(tmp_path / "ivf_big")
    S.build_ivf_index(corpus, path, n_centroids=96, train_iters=0)
    served = S.ivf_topk_on_index(spark, path, queries, nprobe=48, k=5)
    assert served.count() == queries.count() * 5


def test_near_dup_pair_output_bounded_on_duplication(spark):
    """High-duplication corpora: intra-block pair output is quadratic in
    dup-group size. Exact-dedup composition removes the blow-up entirely;
    max_block_size caps it when pre-dedup isn't possible."""
    rows = [(i, "the same boilerplate text repeated " * 5) for i in range(60)]
    rows += [
        (100 + i, f"unique document number {i} covering topic {i * 7}")
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    raw = D.simhash_near_dup_pairs(df).count()
    assert raw >= 60 * 59 / 2  # the dup clique alone is ~1770 pairs
    capped = D.simhash_near_dup_pairs(df, max_block_size=10).count()
    assert capped < 60 * 59 / 2
    pre = D.simhash_near_dup_pairs(D.dedup_exact(df)).count()
    assert pre <= 20 * 19 / 2  # dup clique collapsed to one representative
    # same guards on the LSH path
    capped_lsh = D.minhash_lsh_pairs(
        df, shingle_k=1, threshold=0.5, max_block_size=10
    ).count()
    assert capped_lsh < 60 * 59 / 2


def test_jdbc_option_plumbing(spark):
    cfg = JdbcConfig(
        url="jdbc:postgresql://example:5432/db", user="u", password="p",
        driver="org.postgresql.Driver",
    )
    opts = table_scan_options(
        cfg, "gestao_fretes.parcela_ciot",
        partition_column="id_manifesto", lower_bound=0, upper_bound=10**9,
        num_partitions=16,
    )
    assert opts["fetchsize"] == "50000"  # ≙ BATCH_SIZE, S:26
    assert opts["numPartitions"] == "16"
    assert opts["partitionColumn"] == "id_manifesto"
    assert opts["driver"] == "org.postgresql.Driver"


def test_exact_dedup_keeps_one_per_text(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string"
    )
    groups = {r.text_hash: (r.canonical_id, r.n_copies) for r in D.exact_dup_groups(df).collect()}
    assert sorted(v for v in groups.values()) == [(1, 2), (3, 1)]
    kept = D.dedup_exact(df).select("doc_id").rdd.map(lambda r: r[0]).collect()
    assert sorted(kept) == [1, 3]


def test_approx_sketches_accuracy(spark):
    """HLL++ distinct counts and GK percentiles within 5% of exact at
    the configured precision (rsd=0.02, accuracy=10000)."""
    sf = "/root/testdata/sf0.01"
    li = load_table(spark, sf, "lineitem")
    exact = {
        r.l_returnflag: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("parts"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("median"),
        )
        .collect()
    }
    from ferramenta_etl_spark.plans.relational2 import hll_gk_sketches

    for r in hll_gk_sketches(spark, sf).collect():
        e = exact[r.l_returnflag]
        assert abs(r.approx_parts - e.parts) / e.parts < 0.05
        assert abs(r.approx_median_price - e.median) / e.median < 0.05


def test_kmv_sketch_accuracy_and_exact_below_k(spark):
    """KMV estimate within ~2/sqrt(k-2) of exact on real cardinalities
    (thousands of distinct parts per returnflag), and EXACT when the
    group has fewer than k distinct values."""
    from ferramenta_etl_spark.operators.sketch import kmv_distinct

    sf = "/root/testdata/sf0.01"
    li = load_table(spark, sf, "lineitem")
    exact = {
        r.l_returnflag: r.parts
        for r in li.groupBy("l_returnflag")
        .agg(F.count_distinct("l_partkey").alias("parts"))
        .collect()
    }
    est = {
        r.l_returnflag: r.est
        for r in kmv_distinct(li, ["l_returnflag"], "l_partkey", k=64, out_col="est")
        .collect()
    }
    assert set(est) == set(exact)
    for g, e in exact.items():
        assert abs(est[g] - e) / e < 2 / (62**0.5), (g, est[g], e)
    # below-k groups: nation has 25 distinct keys < k -> exact count
    nat = load_table(spark, sf, "nation").withColumn("one", F.lit(1))
    small = kmv_distinct(nat, ["one"], "n_nationkey", k=64, out_col="est").collect()
    assert small[0].est == 25.0


def test_seeded_sample_is_deterministic(spark):
    from ferramenta_etl_spark.plans.relational2 import sample_seeded

    sf = "/root/testdata/sf0.01"
    a = {tuple(r) for r in sample_seeded(spark, sf).collect()}
    b = {tuple(r) for r in sample_seeded(spark, sf).collect()}
    assert a == b and len(a) > 0


def test_winnowing_fingerprints(spark):
    """Winnowing (k=3, window=4): identical docs -> identical sets; a
    shared run of >= window+k-1 = 6 tokens -> at least one shared
    fingerprint (the winnowing guarantee); sub-k docs -> empty set;
    selections are a strict subset of the shingle stream."""
    from ferramenta_etl_spark.operators.text import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    rows = [
        (1, f"intro words here {shared} tail one"),
        (2, f"completely different prefix {shared} other ending"),
        (3, f"intro words here {shared} tail one"),  # == doc 1
        (4, "tiny doc"),  # < k tokens
        (5, "unrelated content about nothing shared at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r.doc_id: set(r.fp)
        for r in df.select(
            "doc_id", winnowing_fingerprints(F.col("text")).alias("fp")
        ).collect()
    }
    assert out[1] == out[3], "identical docs must fingerprint identically"
    assert out[1] & out[2], "6-token shared run must share a fingerprint"
    assert out[4] == set()
    assert not (out[1] & out[5]), "unrelated docs should not collide"

    # density: selections <= shingle count (and usually far fewer)
    from ferramenta_etl_spark.operators.dedup import shingle_hashes

    dens = df.filter(F.col("doc_id") == 1).select(
        F.size(winnowing_fingerprints(F.col("text"))).alias("nfp"),
        F.size(shingle_hashes(F.col("text"))).alias("nsh"),
    ).first()
    assert 0 < dens.nfp <= dens.nsh


def test_lloyd_refine_improves_ivf_recall(spark, sf_dir):
    """One Lloyd step over the id-seeded centroids must beat them at
    nprobe=2 (deterministic pipeline: seeded 0.30 -> trained ~0.44 on
    this fixture), and preserve centroid ids/dimensionality."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 10).select("vec_id", "embedding")
    exact = {
        (r.query_id, r.vec_id) for r in S.cosine_topk(corpus, queries, k=5).collect()
    }
    seed = S.derive_centroids(corpus, 8)
    trained = S.lloyd_refine(corpus, seed, iters=1)
    assert [c for c, _ in trained] == [c for c, _ in seed]
    assert all(len(v) == len(seed[0][1]) for _, v in trained)

    def recall(cents):
        got = {
            (r.query_id, r.vec_id)
            for r in S.ivf_topk(
                corpus, queries, n_centroids=8, nprobe=2, k=5, centroid_rows=cents
            ).collect()
        }
        return len(exact & got) / len(exact)

    assert recall(trained) > recall(seed)


def test_persisted_ivf_index_prunes_partitions(spark, sf_dir, tmp_path):
    """build_ivf_index writes the corpus hive-partitioned by centroid_id;
    serving reads ONLY probed partitions (checked on the scan's actual
    input files) and returns exactly what the in-memory path returns
    with the same centroids."""
    import os

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 10).select("vec_id", "embedding")
    path = str(tmp_path / "ivf_index")
    cents = S.build_ivf_index(corpus, path, n_centroids=8, train_iters=1)
    assert any(d.startswith("centroid_id=") for d in os.listdir(path))
    assert S.load_ivf_centroids(path) == [(c, list(map(float, v))) for c, v in cents]

    got = S.ivf_topk_on_index(spark, path, queries, nprobe=2, k=5)
    want = S.ivf_topk(corpus, queries, nprobe=2, k=5, centroid_rows=cents)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # pruning proof, behavioral: corrupt an UNPROBED partition directory —
    # a whole-index scan would die on it; the pruned serve never opens it
    probes = S._query_probes(queries, cents, nprobe=2)
    probed = {f"centroid_id={r.centroid_id}" for r in probes.collect()}
    all_dirs = {d for d in os.listdir(path) if d.startswith("centroid_id=")}
    assert len(probed) < len(all_dirs), "all buckets probed; cannot prove pruning"
    victim = sorted(all_dirs - probed)[0]
    bad = os.path.join(path, victim, "part-99999-corrupt.snappy.parquet")
    with open(bad, "wb") as f:
        f.write(b"not parquet")
    try:
        again = S.ivf_topk_on_index(spark, path, queries, nprobe=2, k=5)
        assert sorted(map(tuple, again.collect())) == sorted(map(tuple, want.collect()))
    finally:
        os.remove(bad)


def test_connected_components_and_canonical_dedup(spark):
    """Chain 1-2-3-4-5 (diameter forces multiple propagation rounds),
    star 10-{11,12,13}, pairless doc 99: clusters resolve to min-id
    labels; keep_canonical keeps exactly one doc per cluster plus the
    untouched singleton. Both physical strategies (driver union-find
    and distributed min-label propagation) must agree."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (10, 12), (10, 13)],
        "doc_id_a long, doc_id_b long",
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 13: 10}
    comp = {r.v: r.label for r in D.connected_components(pairs).collect()}
    assert comp == want
    # driver_max_edges=0 forces the distributed propagation path
    dist = {
        r.v: r.label
        for r in D.connected_components(pairs, driver_max_edges=0).collect()
    }
    assert dist == want

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in [1, 2, 3, 4, 5, 10, 11, 12, 13, 99]],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in D.dedup_keep_canonical(docs, pairs).collect())
    assert kept == [1, 10, 99]


def test_connected_components_strategies_agree_at_size(spark):
    """Distributed min-label propagation vs driver union-find on a
    2000-edge graph mixing long chains (forces multi-round propagation),
    dense blobs, and singleton pairs — the insurance that the 100 TB
    path computes the same clustering as the fast path."""
    import random

    rng = random.Random(42)
    edges = [(i, i + 1) for i in range(0, 300)]        # one 300-vertex chain
    for blob in range(10):                              # 10 dense blobs
        base = 1000 + blob * 50
        members = [base + j for j in range(20)]
        edges += [(rng.choice(members), rng.choice(members)) for _ in range(60)]
    edges += [(5000 + 2 * i, 5001 + 2 * i) for i in range(400)]  # pair islands
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "doc_id_a long, doc_id_b long"
    )
    fast = {r.v: r.label for r in D.connected_components(pairs).collect()}
    dist = {
        r.v: r.label
        for r in D.connected_components(pairs, driver_max_edges=0).collect()
    }
    assert fast == dist
    assert fast[300] == 0  # chain end reaches the min label
    assert len({lab for v, lab in fast.items() if v >= 5000}) == 400


def test_connected_components_empty_pairs(spark):
    """Zero near-dup pairs: both CC strategies return an empty labeling
    and keep_canonical passes every doc through untouched."""
    pairs = spark.createDataFrame([], "doc_id_a long, doc_id_b long")
    assert D.connected_components(pairs).count() == 0
    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    assert D.dedup_keep_canonical(docs, pairs).count() == 2


def test_canonical_dedup_on_minhash_pairs(spark, sf_dir):
    """End-to-end near-dup pipeline on the fixture: minhash pairs ->
    clusters -> survivors. Survivor count = docs - (cluster sizes - 1)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs)
    n_docs = docs.count()
    comp = D.connected_components(pairs)
    n_losers = comp.filter(F.col("v") != F.col("label")).count()
    kept = D.dedup_keep_canonical(docs, pairs)
    assert kept.count() == n_docs - n_losers
    assert n_losers > 0, "fixture has known near-dups; pipeline found none"


def test_repetition_signals(spark):
    """Hand-computed fixtures for the Gopher-style repetition family:
    a looping doc scores high on every signal, clean prose scores low,
    and gopher_keep separates them."""
    from ferramenta_etl_spark.operators import text as T

    looped = "spam spam spam spam ham"          # 5 tokens, run of 4
    prose = "the quick brown fox jumps over a lazy dog near the bank today more words"
    df = spark.createDataFrame([(1, looped), (2, prose)], "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            T.dup_ngram_fraction(F.col("text"), 2).alias("dup2"),
            T.top_ngram_fraction(F.col("text"), 2).alias("top2"),
            T.max_token_run(F.col("text")).alias("run"),
            T.alpha_word_ratio(F.col("text")).alias("alpha"),
            T.gopher_keep(F.col("text"), min_tokens=5).alias("keep"),
        ).collect()
    }
    # looped: bigrams = [spam spam]x3, [spam ham] -> distinct 2 of 4
    assert abs(out[1].dup2 - 0.5) < 1e-9
    assert abs(out[1].top2 - (3 * 2 / 5)) < 1e-9
    assert out[1].run == 4
    assert not out[1].keep
    # prose: all 14 bigrams distinct, max multiplicity 1, no runs
    assert out[2].dup2 == 0.0
    assert abs(out[2].top2 - (1 * 2 / 15)) < 1e-9
    assert out[2].run == 1
    assert out[2].alpha == 1.0
    assert out[2].keep


def test_decontamination_hits(spark):
    """Hand-computed overlap: doc 1 shares a 3-gram with the benchmark,
    doc 2 shares none, doc 3 is shorter than n (zero grams, never a
    false positive)."""
    from ferramenta_etl_spark.operators.text import contamination_hits, word_ngrams

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "x alpha beta gamma y"),   # contains bench 3-gram "alpha beta gamma"
            (2, "alpha beta x gamma y"),   # bigram overlap only
            (3, "al be"),                  # shorter than n
        ],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.n_hits for r in contamination_hits(corpus, bench, n=3).collect()}
    assert hits == {1: 1}

    # word_ngrams: exact-length, distinct, empty for short docs
    rows = corpus.select("doc_id", word_ngrams(F.col("text"), 3).alias("g")).collect()
    by_id = {r.doc_id: r.g for r in rows}
    assert by_id[3] == []
    assert "alpha beta gamma" in by_id[1]
    assert len(by_id[1]) == 3  # 5 tokens -> 3 trigrams


def test_frame_sample_schedule_and_letterbox(spark):
    """The JVM-side halves of the media pipeline: the frame-sampling
    plan has ceil(n_frames/every_n) entries starting at 0, and letterbox
    geometry preserves aspect while fitting the target box."""
    import math

    from ferramenta_etl_spark.operators.multimodal import (
        frame_sample_schedule,
        letterbox_dims,
    )

    media = spark.createDataFrame(
        [(1, 95), (2, 1), (3, 30), (4, 31)], "doc_id long, n_frames int"
    )
    sched = frame_sample_schedule(media, every_n=30)
    by_doc = {}
    for r in sched.collect():
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    want = {d: list(range(0, n, 30)) for d, n in [(1, 95), (2, 1), (3, 30), (4, 31)]}
    assert {d: sorted(v) for d, v in by_doc.items()} == want
    for d, n in [(1, 95), (2, 1), (3, 30), (4, 31)]:
        assert len(by_doc[d]) == math.ceil(n / 30)

    dims = spark.createDataFrame(
        [(1, 1920, 1080), (2, 100, 400), (3, 3, 10000)], "id long, w int, h int"
    )
    out = {
        r.id: (r.d.out_w, r.d.out_h)
        for r in dims.select("id", letterbox_dims("w", "h", 224, 224).alias("d")).collect()
    }
    assert out[1] == (224, 126)   # wide: width pinned
    assert out[2] == (56, 224)    # tall: height pinned
    assert out[3] == (1, 224)     # extreme aspect floors at 1, never 0
    for w, h in out.values():
        assert 1 <= w <= 224 and 1 <= h <= 224


def test_media_feature_extraction_arrow_batch(spark, sf_dir):
    """The Arrow mapInPandas path end-to-end on the fixture: stable
    schema, one row per media row, checksum actually touches bytes."""
    from ferramenta_etl_spark.operators.multimodal import (
        attach_fake_media,
        extract_media_features,
    )
    from ferramenta_etl_spark.sources import load_table

    media = attach_fake_media(load_table(spark, sf_dir, "documents"))
    feats = extract_media_features(media)
    assert [f.name for f in feats.schema.fields] == [
        "doc_id", "media_type", "byte_len", "width", "height", "checksum",
    ]
    n = media.count()
    assert feats.count() == n
    row = feats.orderBy("doc_id").first()
    assert row.byte_len > 0 and row.checksum > 0


def test_chunk_documents(spark):
    """Chunking invariants on hand-built docs: coverage (every token
    appears), overlap stride, short-doc identity, exact chunk count."""
    from ferramenta_etl_spark.operators.text import chunk_documents

    long_doc = " ".join(f"t{i}" for i in range(25))      # 25 tokens
    short_doc = "a b c"                                   # shorter than one chunk
    df = spark.createDataFrame(
        [(1, long_doc), (2, short_doc)], "doc_id long, text string"
    )
    out = chunk_documents(df, chunk_tokens=10, overlap=4)
    rows = sorted(out.collect(), key=lambda r: (r.doc_id, r.chunk_idx))
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)

    # stride 6: starts 0,6,12,18 -> 1 + ceil((25-10)/6) = 4 chunks
    assert len(by_doc[1]) == 4
    assert [r.n_chunk_tokens for r in by_doc[1]] == [10, 10, 10, 7]
    # chunk 0 and 1 overlap by exactly 4 tokens
    c0, c1 = by_doc[1][0].chunk_text.split(" "), by_doc[1][1].chunk_text.split(" ")
    assert c0[-4:] == c1[:4]
    # coverage: every original token appears in some chunk
    covered = set()
    for r in by_doc[1]:
        covered.update(r.chunk_text.split(" "))
    assert covered == set(long_doc.split(" "))

    # short doc: exactly one chunk, identical to the doc
    assert len(by_doc[2]) == 1
    assert by_doc[2][0].chunk_text == short_doc
    assert by_doc[2][0].n_chunk_tokens == 3


def test_contamination_hashed_matches_string_path(spark, sf_dir):
    """The hashed fast path flags the same contaminated docs as the
    exact string-gram path (hash collisions are measure-zero at fixture
    scale), while never building a gram string."""
    from ferramenta_etl_spark.operators.text import contamination_hits
    from ferramenta_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    s = {
        (r.doc_id, r.n_hits)
        for r in contamination_hits(corpus, bench, n=5).collect()
    }
    h = {
        (r.doc_id, r.n_hits)
        for r in contamination_hits(corpus, bench, n=5, hashed=True).collect()
    }
    assert s == h


def test_dedup_semantic_collapses_near_identical_embeddings(spark, sf_dir):
    """SemDeDup composition: items whose embeddings are near-identical
    within a label block collapse to the min-id survivor; everything
    else passes through. Built with a planted clone group on top of the
    fixture embeddings."""
    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    # plant 3 near-clones of vec 0 (same label, vector scaled slightly)
    base = emb.filter(F.col("vec_id") == 0)
    clones = [
        base.select(
            (F.col("vec_id") + 100000 + i).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(1.0 + i * 1e-4)).alias(
                "embedding"
            ),
            "label",
        )
        for i in range(3)
    ]
    aug = emb
    for c in clones:
        aug = aug.unionByName(c)
    items = aug.select("vec_id")
    kept = S.dedup_semantic(items, aug, threshold=0.999)
    kept_ids = {r.vec_id for r in kept.collect()}
    # clone group {0, 100000, 100001, 100002} -> only 0 survives
    assert 0 in kept_ids
    assert not kept_ids & {100000, 100001, 100002}
    # survivors = all - collapsed members (at least the 3 clones)
    assert len(kept_ids) <= aug.count() - 3


def test_lsh_ann_recall_against_brute_force(spark, sf_dir):
    """Signed-random-projection LSH ANN: solid recall of the true top-5
    on the fixture, no row exceeds k per query, determinism across runs
    (seeded hyperplanes, no data-dependent training)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 10).select("vec_id", "embedding")
    exact = {
        (r.query_id, r.vec_id) for r in S.cosine_topk(corpus, queries, k=5).collect()
    }
    got = S.lsh_ann_topk(corpus, queries, k=5, n_planes=16, n_bands=8)
    rows = got.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) <= 5 for v in per_q.values())
    approx = {(r.query_id, r.vec_id) for r in rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"SRP-LSH recall {recall:.2f}"
    again = {(r.query_id, r.vec_id) for r in S.lsh_ann_topk(
        corpus, queries, k=5, n_planes=16, n_bands=8).collect()}
    assert approx == again  # deterministic


def test_clean_document_lines_c4_rules(spark):
    """C4 line cleaning: short lines drop, repeated boilerplate keeps
    only its first occurrence, order is preserved, and the optional
    terminal-punctuation rule applies."""
    from ferramenta_etl_spark.operators.text import clean_document_lines

    doc = "\n".join([
        "Accept cookies",                       # 2 words -> drop
        "This is a real first sentence.",       # keep
        "  Accept all cookies now  ",           # boilerplate, first occurrence -> keep
        "Another genuine content line here",    # keep
        "Accept all cookies now",               # repeat (same after trim) -> drop
        "",                                     # empty -> drop
        "This is a real first sentence.",       # repeat -> drop
    ])
    df = spark.createDataFrame([(1, doc), (2, ""), (3, "one two")],
                               "doc_id long, text string")
    out = {r.doc_id: r.text for r in clean_document_lines(df).collect()}
    assert out[1] == "\n".join([
        "This is a real first sentence.",
        "Accept all cookies now",
        "Another genuine content line here",
    ])
    assert out[2] == ""        # empty doc -> empty, not null, no crash
    assert out[3] == ""        # single short line -> everything dropped

    strict = {
        r.doc_id: r.text
        for r in clean_document_lines(df, require_terminal_punct=True).collect()
    }
    assert strict[1] == "This is a real first sentence."


def test_curation_clean_lines_collapses_boilerplate_variants(spark, tmp_path):
    """Two scrapes differing only in boilerplate become exact duplicates
    once cleaning runs before hashing (the C4 ordering argument)."""
    from ferramenta_etl_spark.operators.dedup import dedup_exact
    from ferramenta_etl_spark.operators.text import clean_document_lines

    body = "the quick brown fox jumps over the lazy dog again and again."
    a = "cookie banner\n" + body
    b = body + "\nsubscribe now"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    cleaned = clean_document_lines(df, min_words=3)
    assert dedup_exact(cleaned).count() == 1  # identical after cleaning


def test_substring_dup_pairs_winnowing_guarantee(spark):
    """Pairs sharing a >= window+k-1 = 6-token run are found (the
    winnowing guarantee); docs with no long shared run produce no pair;
    min_shared raises the bar; boilerplate blocks can be capped."""
    run = "alpha beta gamma delta epsilon zeta"  # exactly 6 shared tokens
    rows = [
        (1, f"{run} and then something completely else follows here"),
        (2, f"totally different opening before {run}"),
        (3, "no overlap with anything at all in this one whatsoever"),
        (4, "another document that shares nothing with its neighbors"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.n_shared
        for r in D.substring_dup_pairs(df).collect()
    }
    assert (1, 2) in pairs  # guaranteed by the shared 6-token run
    assert all(p == (1, 2) for p in pairs), pairs  # nothing else pairs
    # a higher min_shared bar drops single-window witnesses
    strict = D.substring_dup_pairs(df, min_shared=10).count()
    assert strict == 0
    # boilerplate cap: a fingerprint in every doc is a droppable block
    boiler = [(i, f"{run} unique tail {i} {i*3} {i*7}") for i in range(10, 20)]
    bdf = spark.createDataFrame(rows + boiler, "doc_id long, text string")
    uncapped = D.substring_dup_pairs(bdf).count()
    capped = D.substring_dup_pairs(bdf, max_block_size=3).count()
    assert capped < uncapped


def test_clean_document_lines_cap_preserves_tail(spark):
    """max_lines bounds the quadratic scan but must NOT delete content:
    lines past the cap pass through uncleaned."""
    from ferramenta_etl_spark.operators.text import clean_document_lines

    doc = "\n".join(
        [f"content line number {i} present here" for i in range(12)] + ["x"]
    )
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    out = clean_document_lines(df, max_lines=10).first().text
    lines = out.split("\n")
    # 10 cleaned lines + 3 verbatim tail lines (two long + the short 'x',
    # which survives because the tail is NOT cleaned)
    assert len(lines) == 13
    assert lines[-1] == "x"
    assert lines[10] == "content line number 10 present here"


def _quantile_fixture(spark):
    # 4 groups x 1000 rows; 'low' repeats 10 values (histogram gold
    # case), 'hi' is all-distinct (the documented histogram worst case)
    rows = [(i % 4, float(i % 10), i * 1.0 + 0.5) for i in range(4000)]
    return spark.createDataFrame(rows, "g int, low double, hi double")


def test_probe_distinct_ratios(spark):
    from ferramenta_etl_spark.operators.quantile import probe_distinct_ratios

    df = _quantile_fixture(spark)
    # probe_mod=1 samples every value: ratios are exact modulo the HLL
    ratios = probe_distinct_ratios(df, ["low", "hi"], probe_mod=1)
    assert ratios["low"] < 0.02
    assert ratios["hi"] > 0.9
    # all-null column: no sampled non-null rows -> 0.0 (exact path,
    # which handles empty histograms), not a division error
    null_df = spark.createDataFrame([(1, None)], "g int, v double")
    assert probe_distinct_ratios(null_df, ["v"], probe_mod=1) == {"v": 0.0}


def test_quantiles_auto_exact_path_bit_identical(spark):
    from ferramenta_etl_spark.operators.quantile import (
        grouped_exact_quantiles,
        grouped_quantiles_auto,
    )

    df = _quantile_fixture(spark)
    specs = [("low", 0.5, "p50"), ("low", 0.9, "p90")]
    auto = {
        r.g: (r.p50, r.p90)
        for r in grouped_quantiles_auto(df, ["g"], specs, probe_mod=1).collect()
    }
    exact = {
        r.g: (r.p50, r.p90)
        for r in grouped_exact_quantiles(df, ["g"], specs).collect()
    }
    assert auto == exact  # low-distinct column stays on the exact path


def test_quantiles_auto_fallback_engages_on_all_distinct(spark, caplog):
    import logging

    from ferramenta_etl_spark.operators.quantile import (
        grouped_exact_quantiles,
        grouped_quantiles_auto,
    )

    df = _quantile_fixture(spark)
    with caplog.at_level(
        logging.INFO, logger="ferramenta_etl_spark.operators.quantile"
    ):
        out = grouped_quantiles_auto(
            df, ["g"], [("hi", 0.5, "p50")], probe_mod=1
        )
        got = {r.g: r.p50 for r in out.collect()}
    assert "falling back to percentile_approx" in caplog.text
    # GK sketch at accuracy=10000 on 1000-row groups is exact-rank; the
    # sketch returns an actual value, the exact path interpolates — with
    # 1000 values per group they differ by at most one inter-value gap
    exact = {
        r.g: r.p50
        for r in grouped_exact_quantiles(df, ["g"], [("hi", 0.5, "p50")]).collect()
    }
    for g in exact:
        assert abs(got[g] - exact[g]) <= 4.0, (g, got[g], exact[g])


def test_quantiles_auto_mixed_specs_join(spark, caplog):
    import logging

    from ferramenta_etl_spark.operators.quantile import (
        grouped_exact_quantiles,
        grouped_quantiles_auto,
    )

    df = _quantile_fixture(spark)
    specs = [("low", 0.5, "low_p50"), ("hi", 0.5, "hi_p50")]
    with caplog.at_level(
        logging.INFO, logger="ferramenta_etl_spark.operators.quantile"
    ):
        out = grouped_quantiles_auto(df, ["g"], specs, probe_mod=1)
    assert set(out.columns) == {"g", "low_p50", "hi_p50"}
    rows = {r.g: (r.low_p50, r.hi_p50) for r in out.collect()}
    assert len(rows) == 4
    exact_low = {
        r.g: r.low_p50
        for r in grouped_exact_quantiles(df, ["g"], [("low", 0.5, "low_p50")]).collect()
    }
    for g in rows:
        assert rows[g][0] == exact_low[g]  # exact-path spec bit-identical
        assert rows[g][1] is not None  # sketch-path spec present
    assert "'hi'" in caplog.text and "'low'" not in caplog.text.split("ratio")[0]


def test_cosine_near_dup_srp_blocking(spark):
    """SRP-banded candidate generation (the fixed-label-set scale path)
    must emit a SUBSET of the exact within-block pairs with identical
    sims, and find every planted high-cosine near-dup: with 32 planes /
    8 bands a cos>=0.9 pair misses all 8 bands with p~2e-3."""
    import math
    import random

    rng = random.Random(11)
    rows = []
    for i in range(60):
        base = [rng.gauss(0, 1) for _ in range(32)]
        rows.append((2 * i, base, i % 3))
        # planted near-dup: tiny perturbation -> cosine ~0.999
        rows.append((2 * i + 1, [x + 0.02 * rng.gauss(0, 1) for x in base], i % 3))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in rows],
        "vec_id long, embedding array<float>, label int",
    )
    exact = {
        (r.vec_id_a, r.vec_id_b): r.sim
        for r in S.cosine_near_dup_pairs(df, threshold=0.9).collect()
    }
    srp = {
        (r.vec_id_a, r.vec_id_b): r.sim
        for r in S.cosine_near_dup_pairs(
            df, threshold=0.9, srp_planes=32, srp_bands=8, dim=32
        ).collect()
    }
    assert set(srp) <= set(exact)  # never a pair the exact path lacks
    for k in srp:
        assert srp[k] == exact[k]  # identical verified sims
    planted = {(2 * i, 2 * i + 1) for i in range(60)} & set(exact)
    assert len(planted) >= 55  # fixture sanity: perturbation stayed tiny
    recall = len(planted & set(srp)) / len(planted)
    assert recall >= 0.95, f"SRP recall {recall:.3f} on planted near-dups"


def test_cosine_near_dup_srp_empty_and_bad_args(spark):
    df = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    out = S.cosine_near_dup_pairs(df, threshold=0.9, srp_planes=32)
    assert out.count() == 0
    assert out.columns == ["vec_id_a", "vec_id_b", "sim"]
    with pytest.raises(ValueError, match="not divisible"):
        S.cosine_near_dup_pairs(df, srp_planes=30, srp_bands=8, dim=4)


def test_srp_params_for_chooser():
    """The (planes, bands) chooser must (a) hit the recall bound by its
    own collision model, (b) spend the budget on band WIDTH — the term
    that decides sub-quadratic candidate generation (width 4 admits
    ~40% of random pairs; the round-5 mixed sweep caught that shape
    effectively hanging at 100x)."""
    import math

    for threshold, recall, max_planes in [
        (0.9, 0.95, 256),
        (0.9, 0.99, 512),
        (0.95, 0.95, 256),
        (0.99, 0.95, 256),
    ]:
        planes, bands = S.srp_params_for(threshold, recall, max_planes)
        assert planes % bands == 0 and planes <= max_planes
        width = planes // bands
        p_band = (1.0 - math.acos(threshold) / math.pi) ** width
        assert 1.0 - (1.0 - p_band) ** bands >= recall  # model recall holds
        # random-pair admission stays small: near-orthogonal pairs
        # collide per band at ~2^-width
        assert bands * 2.0**-width < 0.02
    # higher threshold -> wider bands affordable at the same budget
    assert S.srp_params_for(0.99)[0] // S.srp_params_for(0.99)[1] > (
        S.srp_params_for(0.9)[0] // S.srp_params_for(0.9)[1]
    )
    with pytest.raises(ValueError, match="max_planes"):
        S.srp_params_for(0.5, recall=0.999, max_planes=16)
    with pytest.raises(ValueError, match="threshold"):
        S.srp_params_for(1.0)


def test_cosine_near_dup_srp_arrow_wide_bands(spark):
    """Plane counts past the 64-bit pack route through the Arrow
    band-value projection: still a subset of the exact pairs with
    identical sims, and chooser-sized bands recall the planted
    near-dups. Exercises srp_params_for end-to-end (216 planes at
    threshold 0.9 > _SRP_PACK_MAX)."""
    import random

    rng = random.Random(13)
    rows = []
    for i in range(50):
        base = [rng.gauss(0, 1) for _ in range(32)]
        rows.append((2 * i, base, i % 3))
        rows.append((2 * i + 1, [x + 0.02 * rng.gauss(0, 1) for x in base], i % 3))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, v, l in rows],
        "vec_id long, embedding array<float>, label int",
    )
    planes, bands = S.srp_params_for(0.9, recall=0.95, max_planes=256)
    assert planes > 64  # must exercise the Arrow path
    exact = {
        (r.vec_id_a, r.vec_id_b): r.sim
        for r in S.cosine_near_dup_pairs(df, threshold=0.9).collect()
    }
    srp = {
        (r.vec_id_a, r.vec_id_b): r.sim
        for r in S.cosine_near_dup_pairs(
            df, threshold=0.9, srp_planes=planes, srp_bands=bands, dim=32
        ).collect()
    }
    assert set(srp) <= set(exact)
    for k in srp:
        assert srp[k] == exact[k]
    planted = {(2 * i, 2 * i + 1) for i in range(50)} & set(exact)
    assert len(planted) >= 45
    recall = len(planted & set(srp)) / len(planted)
    assert recall >= 0.95, f"wide-band SRP recall {recall:.3f}"


def _ref_bilinear(img, ow, oh):
    """Per-pixel float reference for the vectorized kernel (half-pixel
    centers, clamped edges, round-half-even) — the numpy oracle VERDICT
    r07 #3 asked for, written loop-wise so it shares no code path."""
    import math

    import numpy as np

    ih, iw = img.shape[:2]
    out = np.zeros((oh, ow, 3), np.uint8)
    for j in range(oh):
        for i in range(ow):
            x = (i + 0.5) * (iw / ow) - 0.5
            y = (j + 0.5) * (ih / oh) - 0.5
            x0f, y0f = math.floor(x), math.floor(y)
            wx, wy = x - x0f, y - y0f
            x0 = min(max(x0f, 0), iw - 1)
            x1 = min(max(x0f + 1, 0), iw - 1)
            y0 = min(max(y0f, 0), ih - 1)
            y1 = min(max(y0f + 1, 0), ih - 1)
            for c in range(3):
                top = float(img[y0, x0, c]) * (1 - wx) + float(img[y0, x1, c]) * wx
                bot = float(img[y1, x0, c]) * (1 - wx) + float(img[y1, x1, c]) * wx
                v = top * (1 - wy) + bot * wy
                out[j, i, c] = int(min(max(round(v), 0), 255))
    return out


def test_resize_images_matches_pixel_oracle(spark):
    """resize_images end-to-end on synthesized raw-RGB fixtures: every
    output byte equals the per-pixel reference, letterbox geometry equals
    the JVM letterbox_dims expression, and a same-dims letterbox=False
    pass is the identity."""
    import numpy as np

    from ferramenta_etl_spark.operators.multimodal import (
        attach_fake_raw_images,
        letterbox_dims,
        resize_images,
    )

    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    raw = attach_fake_raw_images(docs)
    originals = {
        r.doc_id: np.frombuffer(bytes(r.media), np.uint8).reshape(
            r.height, r.width, 3
        )
        for r in raw.collect()
    }
    resized = {r.doc_id: r for r in resize_images(raw, 16, 12).collect()}
    geom = {
        r.doc_id: (r.d.out_w, r.d.out_h)
        for r in raw.select(
            "doc_id", letterbox_dims("width", "height", 16, 12).alias("d")
        ).collect()
    }
    assert set(resized) == set(originals)
    for did, img in originals.items():
        r = resized[did]
        assert (r.width, r.height) == geom[did]  # numpy == JVM geometry
        got = np.frombuffer(bytes(r.media), np.uint8).reshape(r.height, r.width, 3)
        want = _ref_bilinear(img, r.width, r.height)
        assert np.array_equal(got, want), f"doc {did}: pixel mismatch"

    # identity: resizing to the source dims reproduces the input bytes
    one = raw.filter("doc_id = 3")
    src = one.first()
    same = resize_images(one, src.width, src.height, letterbox=False).first()
    assert bytes(same.media) == bytes(src.media)


def test_resize_images_malformed_rows_null_out(spark):
    """A truncated payload or null media yields all-null output without
    poisoning the Arrow batch; healthy rows in the same batch survive."""
    import numpy as np

    from ferramenta_etl_spark.operators.multimodal import resize_images

    good = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(6, 4, 3)
    rows = [
        (1, bytes(good.tobytes()), 4, 6),
        (2, b"\x00\x01\x02", 4, 6),       # byte_len != w*h*3
        (3, None, 4, 6),                   # null payload
        (4, bytes(good.tobytes()), 0, 6),  # non-positive dim
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, media binary, width long, height long"
    )
    out = {r.doc_id: r for r in resize_images(df, 2, 3, letterbox=False).collect()}
    assert out[1].media is not None and (out[1].width, out[1].height) == (2, 3)
    for bad in (2, 3, 4):
        assert out[bad].media is None
        assert out[bad].width is None and out[bad].height is None


def test_token_vocab_counts_and_ordering(spark):
    """token_vocab vs a pure-Python Counter oracle on a hand fixture:
    exact tf, (tf desc, token asc) ordering, min_count floor, top_n cap,
    and the bpe_ish tokenizer splitting marks off words. df_approx is an
    HLL sketch, but at fixture cardinality (<=3 docs/token) HLL++ runs
    in sparse mode and is exact — asserted exactly on purpose so a
    sketch-config regression shows up here."""
    from collections import Counter

    from ferramenta_etl_spark.operators.text import token_vocab

    corpus = [
        (1, "the cat sat on the mat"),
        (2, "the dog"),
        (3, "cat! cat! said the dog"),
    ]
    docs = spark.createDataFrame(corpus, "doc_id: long, text: string")

    tf = Counter()
    df_exact = Counter()
    for _, text in corpus:
        toks = text.lower().split(" ")
        tf.update(toks)
        df_exact.update(set(toks))
    want = sorted(
        ((t, n, df_exact[t]) for t, n in tf.items() if n >= 2),
        key=lambda r: (-r[1], r[0]),
    )

    got = [
        (r.token, r.tf, r.df_approx)
        for r in token_vocab(docs, min_count=2).collect()
    ]
    assert got == want

    top2 = [
        (r.token, r.tf)
        for r in token_vocab(docs, min_count=1, top_n=2).collect()
    ]
    assert top2 == [(w[0], w[1]) for w in want[:2]]

    # bpe_ish splits the "!" marks off: "cat!" x2 -> cat x2 + ! x2
    bpe = {
        r.token: r.tf
        for r in token_vocab(docs, tokenizer="bpe_ish", min_count=1).collect()
    }
    assert bpe["cat"] == 3 and bpe["!"] == 2 and "cat!" not in bpe

    import pytest as _pytest

    with _pytest.raises(ValueError):
        token_vocab(docs, tokenizer="nope")


def test_mean_pool_embeddings_numpy_oracle(spark):
    """Chunk→doc mean pooling vs numpy: exact grouping, positional
    means to 1e-9 (summation order differs), NULL/empty chunks dropped,
    zero-mean group goes NULL under normalize=True, and l2_normalize
    produces unit vectors."""
    import numpy as np

    from ferramenta_etl_spark.operators.similarity import (
        l2_normalize,
        mean_pool_embeddings,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(99)
    chunks, want = [], {}
    for doc in range(4):
        vecs = rng.normal(size=(doc + 1, 6))
        want[doc] = vecs.mean(axis=0)
        chunks += [(doc, [float(x) for x in v]) for v in vecs]
    chunks.append((0, None))  # dropped, must not bias doc 0's mean
    chunks.append((1, []))    # likewise
    # doc 9: chunks cancel to the zero vector -> normalize yields NULL
    chunks += [(9, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
               (9, [-1.0, 0.0, 0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(chunks, "doc_id: long, embedding: array<double>")

    pooled = {r.doc_id: np.array(r.embedding)
              for r in mean_pool_embeddings(df, ["doc_id"]).collect()}
    assert set(pooled) == {0, 1, 2, 3, 9}
    for doc, w in want.items():
        assert np.abs(pooled[doc] - w).max() < 1e-9, doc
    assert np.abs(pooled[9]).max() == 0.0

    normed = {r.doc_id: r.embedding
              for r in mean_pool_embeddings(
                  df, ["doc_id"], normalize=True).collect()}
    assert normed[9] is None
    for doc in want:
        assert abs(np.linalg.norm(np.array(normed[doc])) - 1.0) < 1e-9

    row = df.limit(0).sparkSession.createDataFrame(
        [([3.0, 4.0],), ([0.0, 0.0],), (None,)], "v: array<double>"
    ).select(l2_normalize(F.col("v")).alias("u")).collect()
    assert row[0].u == [0.6, 0.8]
    assert row[1].u is None and row[2].u is None


def _py_levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.mark.parametrize("blocking", ["qgram", "length"])
def test_edit_distance_pairs_matches_all_pairs_oracle(spark, blocking):
    """edit_distance_pairs vs a python DP all-pairs oracle under BOTH
    blocking strategies: every pair within max_dist recovered with the
    exact distance (including a cross-length-bucket pair, a dist-0
    exact dup, and gramless short strings through the qgram fallback),
    nothing beyond the threshold, and no self/duplicate pairs."""
    from ferramenta_etl_spark.operators.dedup import edit_distance_pairs

    texts = {
        1: "the quick brown fox",
        2: "the quick brown fox!",    # dist 1 from 1, crosses buckets
        3: "the quick brown fix",     # dist 1 from 1, dist 2 from 2
        4: "a completely different sentence",
        5: "the quick brown fox",     # exact dup of 1 -> dist 0
        6: "xx",
        7: "xy",                      # dist 1 from 6
        8: "the quick brwn fx",       # dist 2 from 1
    }
    df = spark.createDataFrame(
        list(texts.items()), "doc_id: long, text: string"
    )
    for d in (1, 2):
        want = sorted(
            (a, b, _py_levenshtein(texts[a], texts[b]))
            for a in texts for b in texts
            if a < b and _py_levenshtein(texts[a], texts[b]) <= d
        )
        got = sorted(
            (r.doc_id_a, r.doc_id_b, r.dist)
            for r in edit_distance_pairs(
                df, max_dist=d, blocking=blocking
            ).collect()
        )
        assert got == want, f"max_dist={d} blocking={blocking}"
    # block cap bounds the blow-up; capped blocks drop, job still runs
    capped = edit_distance_pairs(
        df, max_dist=1, max_block_size=1, blocking=blocking
    )
    assert capped.count() <= len(texts) ** 2
    with pytest.raises(ValueError, match="blocking"):
        edit_distance_pairs(df, blocking="nope")


def test_range_join_matches_all_pairs_oracle(spark):
    """range_join vs a python all-pairs oracle: closed bounds, negative
    domains, a long interval routed through the broadcast tail (span >>
    max_bins_per_interval), inverted and NULL intervals matching
    nothing, NULL points matching nothing — and the fast arm's plan is
    an equi-join (the bare range predicate alone would be a pure
    BroadcastNestedLoopJoin over everything)."""
    from ferramenta_etl_spark.operators.range_join import range_join

    pts = [(i, p) for i, p in enumerate(
        [-25, -3, 0, 1, 7, 12, 40, 99, 100, 101, 5000])]
    ivs = [
        (0, -30, -20), (1, -5, 5), (2, 0, 0), (3, 10, 14),
        (4, 90, 110),
        (5, -1000, 10_000),   # span 11k >> 4 bins x bin_size 8 -> tail
        (6, 50, 40),          # inverted: matches nothing
        (7, None, 10),        # NULL start: matches nothing
    ]
    pdf = spark.createDataFrame(pts, "pid: long, p: long")
    idf = spark.createDataFrame(ivs, "iid: long, s: long, e: long")
    got = sorted(
        (r.pid, r.iid)
        for r in range_join(
            pdf, idf, "p", "s", "e", bin_size=8.0, max_bins_per_interval=4
        ).collect()
    )
    want = sorted(
        (pid, iid)
        for pid, p in pts
        for iid, s, e in ivs
        if s is not None and e is not None and s <= p <= e
    )
    assert got == want
    # the long interval must actually be in the result (tail arm live)
    assert (0, 5) in got and (10, 5) in got

    with pytest.raises(ValueError, match="collision"):
        range_join(pdf, pdf, "p", "p", "p", bin_size=1.0)
    with pytest.raises(ValueError, match="positive"):
        range_join(pdf, idf, "p", "s", "e", bin_size=0)

    # NULL point never matches
    pdf_n = spark.createDataFrame([(99, None)], "pid: long, p: long")
    assert range_join(pdf_n, idf, "p", "s", "e", bin_size=8.0).count() == 0

    # plan shape: with no long tail, matches flow through an EQUI join
    # on the bin (hash-partitioned exchange), not a nested loop over
    # the full interval set
    short_only = idf.filter("iid < 5")
    plan = (
        range_join(pdf, short_only, "p", "s", "e", bin_size=8.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning(__bin" in plan


def test_dedup_paragraphs_ccnet_style(spark):
    """Cross-document paragraph dedup vs a python oracle: first
    occurrence (lowest doc_id, pos) survives corpus-wide, later copies
    drop, order within a doc is preserved, short paragraphs are exempt,
    fully-deduped docs come back with empty text (row identity
    survives), and non-text columns pass through."""
    from ferramenta_etl_spark.operators.text import dedup_paragraphs

    docs = {
        1: "intro one\n\nSHARED LICENSE TEXT\n\nbody of doc one",
        2: "SHARED LICENSE TEXT\n\nbody of doc two\n\n-",
        3: "SHARED LICENSE TEXT",          # fully deduped -> ""
        4: "-\n\nbody of doc four\n\n-",   # "-" short: exempt, kept twice
        5: "body of doc two",              # already seen in doc 2 -> ""
    }
    df = spark.createDataFrame(
        [(i, t, f"src{i}") for i, t in docs.items()],
        "doc_id: long, text: string, source: string",
    )
    out = {r.doc_id: (r.text, r.source)
           for r in dedup_paragraphs(df, min_chars=2).collect()}

    # python oracle: same first-occurrence rule
    seen = set()
    want = {}
    for i in sorted(docs):
        kept = []
        for p in docs[i].split("\n\n"):
            if len(p.strip()) < 2:
                kept.append(p)
            elif p not in seen:
                seen.add(p)
                kept.append(p)
        want[i] = "\n\n".join(kept)
    assert {k: v[0] for k, v in out.items()} == want
    assert want[3] == "" and want[5] == ""         # oracle sanity
    assert out[4][0] == "-\n\nbody of doc four\n\n-"
    assert all(out[i][1] == f"src{i}" for i in docs)
    assert set(out) == set(docs)


def test_url_normalize_and_domain(spark):
    """normalize_url / extract_domain vs hand-derived expectations:
    case, fragments, default ports, trailing slashes, query
    preservation, NULL propagation, and the eTLD-1 approximation."""
    from ferramenta_etl_spark.operators.text import (
        extract_domain,
        normalize_url,
    )

    cases = [
        ("HTTPS://Example.COM:443/Path/#frag", "https://example.com/Path"),
        ("http://EXAMPLE.com:80", "http://example.com"),
        ("http://example.com:8080/x", "http://example.com:8080/x"),
        ("https://example.com/a?q=UP#x", "https://example.com/a?q=UP"),
        ("https://example.com/", "https://example.com"),
        ("https://sub.news.co.uk/Page", "https://sub.news.co.uk/Page"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i: long, url: string"
    )
    got = {
        r.i: r.n
        for r in df.select("i", normalize_url(F.col("url")).alias("n")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i])

    doms = df.select(
        "i",
        extract_domain(F.col("url")).alias("d"),
        extract_domain(F.col("url"), registered=True).alias("r"),
    ).collect()
    by_i = {r.i: (r.d, r.r) for r in doms}
    assert by_i[0] == ("example.com", "example.com")
    assert by_i[5] == ("sub.news.co.uk", "co.uk")  # documented ccTLD limit
    assert by_i[6] == (None, None)
    # scheme-less input -> NULL domain
    sl = spark.createDataFrame([("example.com/x",)], "url: string").select(
        extract_domain(F.col("url")).alias("d")
    ).first()
    assert sl.d is None


def test_sessionize_matches_session_window(spark, sf_dir):
    """Per-row sessionize vs the session_window aggregate on the real
    events table: grouping rows by (user, session_idx) and aggregating
    must reproduce session_window's (count, min, max) multiset exactly
    — same strict-gap semantics — and a hand fixture pins the boundary
    (exactly-gap extends, gap+1 splits, NULL ts unlabeled)."""
    from ferramenta_etl_spark.operators.sessionize import sessionize

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    gap_s = 1800  # 30 minutes
    labeled = sessionize(ev, "ts", ["user_id"], gap_s, tiebreak=["event_id"])
    mine = sorted(
        (r.user_id, r.n, r.lo, r.hi)
        for r in labeled.groupBy("user_id", "session_idx")
        .agg(F.count("*").alias("n"),
             F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()
    )
    ref = sorted(
        (r.user_id, r.n, r.lo, r.hi)
        for r in ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n"),
             F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()
    )
    assert mine == ref and len(mine) > 0

    rows = [
        (1, 0.0), (1, 10.0), (1, 10.0),   # dup ts: same session
        (1, 20.0),                         # exactly gap=10 after: extends
        (1, 31.0),                         # 11 > gap: new session
        (2, 5.0), (2, None),               # NULL ts: no label
    ]
    df = spark.createDataFrame(rows, "k: long, t: double")
    out = sessionize(df, "t", ["k"], gap=10.0)
    got = {(r.k, r.t): r.session_idx for r in out.collect()}
    assert got[(1, 0.0)] == got[(1, 10.0)] == got[(1, 20.0)] == 1
    assert got[(1, 31.0)] == 2
    assert got[(2, 5.0)] == 1 and got[(2, None)] is None


def test_sessionize_empty_by_warns_single_partition(spark):
    """VERDICT r08 #5: by=[] is one global session stream through ONE
    partition — legitimate but must warn loudly."""
    import pytest as _pytest

    from ferramenta_etl_spark.operators.sessionize import sessionize

    df = spark.createDataFrame(
        [(0.0,), (5.0,), (100.0,)], "t: double"
    )
    with _pytest.warns(UserWarning, match="ONE\\s+partition"):
        out = sessionize(df, "t", [], gap=10.0)
    got = {r.t: r.session_idx for r in out.collect()}
    assert got == {0.0: 1, 5.0: 1, 100.0: 2}


def test_mean_pool_null_elements_skip_denominator(spark):
    """ADVICE r08: a NULL CELL inside a vector is skipped — the
    position's mean is over non-null values only (not biased toward
    zero by counting the NULL), and an all-NULL position yields NULL."""
    from ferramenta_etl_spark.operators.similarity import mean_pool_embeddings

    rows = [
        ("d", [1.0, None, None]),
        ("d", [3.0, 5.0, None]),
    ]
    df = spark.createDataFrame(rows, "doc string, embedding array<double>")
    out = mean_pool_embeddings(df, ["doc"]).collect()
    assert len(out) == 1
    vec = out[0].embedding
    assert vec[0] == 2.0          # (1+3)/2
    assert vec[1] == 5.0          # one non-null value, denominator 1
    assert vec[2] is None         # all-NULL position


def test_dedup_paragraphs_metachar_separator_roundtrips(spark):
    """ADVICE r08: a separator containing regex metacharacters must
    split LITERALLY (split takes a Java regex; reassembly is literal) —
    '|' used to split between every character."""
    from ferramenta_etl_spark.operators.text import dedup_paragraphs

    rows = [(1, "alpha|beta|gamma"), (2, "beta|delta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.text
        for r in dedup_paragraphs(df, sep="|", min_chars=1).collect()
    }
    # doc 1 intact; doc 2 lost only the cross-doc duplicate 'beta'
    assert out[1] == "alpha|beta|gamma"
    assert out[2] == "delta"


def test_remove_contaminated_spans_semantics(spark):
    """Span-level decontamination: hit spans (plus margin) excised with
    overlapping spans merged; clean docs untouched; fully-contaminated
    docs come back as '' — each case pinned against hand-derived
    expectations, including hits at doc start/end and adjacent hits
    that must merge into ONE span."""
    from ferramenta_etl_spark.operators.text import remove_contaminated_spans

    bench = spark.createDataFrame(
        [("aa bb cc dd",)], "text string"
    )  # one 4-gram benchmark
    corpus = spark.createDataFrame(
        [
            (1, "p q aa bb cc dd r s"),        # interior hit
            (2, "aa bb cc dd tail1 tail2"),    # hit at doc start
            (3, "head1 head2 aa bb cc dd"),    # hit at doc end
            (4, "clean words only in here"),   # no hit
            (5, "aa bb cc dd"),                # whole doc
            # two hits whose margin-padded spans touch -> ONE span
            (6, "x aa bb cc dd aa bb cc dd y"),
            # two hits far apart -> TWO spans
            (7, "aa bb cc dd m1 m2 m3 m4 m5 aa bb cc dd"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in remove_contaminated_spans(
            corpus, bench, n=4, margin=1
        ).collect()
    }
    # doc 1: tokens 0..7; hit at pos 2 covers [2,5], margin -> [1,6]
    assert out[1].clean_text == "p s"
    assert (out[1].n_tokens, out[1].n_tokens_removed, out[1].n_spans) == (8, 6, 1)
    # doc 2: hit at 0 covers [-1..4] -> keep token 5 only
    assert out[2].clean_text == "tail2"
    # doc 3: hit at 2 covers [1..6] -> keep token 0 only
    assert out[3].clean_text == "head1"
    assert out[4].clean_text == corpus.collect()[3].text or out[4].n_tokens_removed == 0
    assert out[4].n_spans == 0 and out[4].n_tokens_removed == 0
    assert out[5].clean_text == "" and out[5].n_tokens_removed == 4
    # doc 6: hits at 1 and 5; delta 4 <= 4+2 -> merged, one span, all
    # 10 tokens inside [0..9]
    assert out[6].n_spans == 1 and out[6].clean_text == ""
    # doc 7: hits at 0 and 9; delta 9 > 6 -> two spans; tokens 0..4 and
    # 8..12 dirty -> keep 5,6,7 ("m2 m3 m4")
    assert out[7].n_spans == 2 and out[7].clean_text == "m2 m3 m4"


def test_remove_contaminated_spans_margin_zero_row_preserving(spark):
    """margin=0 removes exactly the gram tokens, output stays
    row-count-preserving over the corpus, and extra corpus columns pass
    through untouched."""
    from pyspark.sql import functions as F

    from ferramenta_etl_spark.operators.text import remove_contaminated_spans

    bench = spark.createDataFrame([("k1 k2",)], "text string")
    corpus = spark.createDataFrame(
        [(1, "a k1 k2 b", "keep"), (2, "c d", "keep2")],
        "doc_id long, text string, extra string",
    )
    out = remove_contaminated_spans(corpus, bench, n=2, margin=0)
    rows = {r.doc_id: r for r in out.collect()}
    assert out.count() == 2
    assert rows[1].clean_text == "a b" and rows[1].extra == "keep"
    assert rows[2].clean_text == "c d" and rows[2].extra == "keep2"


def test_tfidf_keywords_matches_python_reference(spark, sf_dir):
    """tfidf_keywords == a from-scratch Python TF-IDF over the same
    tokenization (raw tf x Robertson idf, min_df floor, (score desc,
    term asc) total order); deterministic across partitionings."""
    import math
    from collections import Counter

    from ferramenta_etl_spark.operators.text import tfidf_keywords
    from ferramenta_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "text").collect()
    tf = {
        r.doc_id: Counter(t for t in r.text.lower().split(" ") if t)
        for r in rows
    }
    n = len(rows)
    df = Counter(t for c in tf.values() for t in c)
    want = {}
    for did, c in tf.items():
        scored = [
            (cnt * math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5)), t)
            for t, cnt in c.items()
            if df[t] >= 2
        ]
        scored.sort(key=lambda x: (-x[0], x[1]))
        want[did] = [(t, s) for s, t in scored[:5]]

    got = {}
    for r in tfidf_keywords(docs, k=5).collect():
        got.setdefault(r.doc_id, []).append((r.rank, r.term, r.tfidf))
    for did, lst in got.items():
        lst.sort()
        assert [t for _, t, _ in lst] == [t for t, _ in want[did]], did
        for (_, _, s_got), (_, s_want) in zip(lst, want[did]):
            assert abs(s_got - s_want) < 1e-9

    # partitioning-proof: identical (doc, rank, term) triples
    first = {
        (did, rank, term)
        for did, lst in got.items()
        for rank, term, _ in lst
    }
    again = {
        (r.doc_id, r.rank, r.term)
        for r in tfidf_keywords(docs.repartition(13), k=5).collect()
    }
    assert again == first


def test_tfidf_join_fallback_matches_inline(spark, sf_dir):
    """r14 vocabulary guard (VERDICT r13 #4): past max_inline_vocab the
    idf attach goes through a relational term join instead of the
    single map<term, idf> row. Same (doc, rank, term) triples and
    scores as the inline path, empty-keyword docs keep an empty array,
    and the fallback plan really contains the join."""
    from ferramenta_etl_spark.operators.text import tfidf_topk_arrays
    from ferramenta_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    inline = tfidf_topk_arrays(docs, k=5)
    fallback = tfidf_topk_arrays(docs, k=5, max_inline_vocab=1)
    a = {r.doc_id: [(s.term, s.tfidf) for s in r["__kw"]] for r in inline.collect()}
    b = {r.doc_id: [(s.term, s.tfidf) for s in r["__kw"]] for r in fallback.collect()}
    assert set(a) == set(b)
    for did in a:
        assert [t for t, _ in a[did]] == [t for t, _ in b[did]], did
        for (_, sa), (_, sb) in zip(a[did], b[did]):
            assert abs(sa - sb) < 1e-9
    assert inline.columns == fallback.columns
    plan = fallback._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan

    # null doc ids survive the fallback's join-back (review r14: a plain
    # equi-join would silently hand a null-id doc an empty keyword list)
    nd = spark.createDataFrame(
        [(None, "hello world hello world"), (1, "hello spark world spark")],
        "doc_id int, text string",
    )
    ni = {
        r.doc_id: [s.term for s in r["__kw"]]
        for r in tfidf_topk_arrays(nd, k=3, min_df=1).collect()
    }
    nf = {
        r.doc_id: [s.term for s in r["__kw"]]
        for r in tfidf_topk_arrays(nd, k=3, min_df=1, max_inline_vocab=1).collect()
    }
    assert ni == nf and ni[None]


def test_tfidf_join_fallback_keeps_each_rows_keywords_under_shared_ids(spark):
    """Rows sharing a doc id keep their own keywords on the relational
    fallback (max_inline_vocab=0), exactly as on the inline path: the
    fallback re-attaches keywords by the text, not by the id, so two
    different texts under one id do not get a merged top-k, and two rows
    with the same text do not get each term twice."""
    from ferramenta_etl_spark.operators.text import tfidf_topk_arrays

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (1, "cherry cherry cherry date"),
            (1, "cherry cherry cherry date"),
            (2, "banana date apple"),
            (2, "apple cherry"),
            (None, "date date banana"),
            (3, None),
        ],
        "doc_id int, text string",
    )

    def keywords(df):
        return sorted(
            (r.doc_id or -1, r.text or "", tuple((s.term, s.tfidf) for s in r["__kw"]))
            for r in df.collect()
        )

    inline = keywords(tfidf_topk_arrays(docs, k=2, min_df=1))
    fallback = keywords(tfidf_topk_arrays(docs, k=2, min_df=1, max_inline_vocab=0))
    assert fallback == inline
    by_text = {text: kw for _, text, kw in inline}
    assert [t for t, _ in by_text["apple apple banana"]] == ["apple", "banana"]
    assert [t for t, _ in by_text["cherry cherry cherry date"]] == ["cherry", "date"]
    assert by_text[""] == ()


def test_contamination_bloom_path_equals_hashed_join(spark, sf_dir):
    """contamination_hits_scaled (round 12: bloom pre-screen + exact
    left-semi verify, for benchmark sets past broadcast size) returns
    EXACTLY contamination_hits(hashed=True) — false positives die in
    the verify join, false negatives are impossible — at a healthy fpp,
    at a deliberately starved bitmap (expected_grams=4: fpp ~ 1, every
    gram survives the screen, the verify join still decides), and the
    flagged set is non-trivial on the fixture."""
    from ferramenta_etl_spark.operators.text import (
        contamination_hits,
        contamination_hits_scaled,
    )
    from ferramenta_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    want = {
        (r.doc_id, r.n_hits)
        for r in contamination_hits(corpus, bench, n=5, hashed=True).collect()
    }
    assert want, "fixture should contain contaminated docs"
    got = {
        (r.doc_id, r.n_hits)
        for r in contamination_hits_scaled(corpus, bench, n=5).collect()
    }
    assert got == want
    starved = {
        (r.doc_id, r.n_hits)
        for r in contamination_hits_scaled(
            corpus, bench, n=5, expected_grams=4, fpp=0.5
        ).collect()
    }
    assert starved == want


def test_contamination_bloom_empty_benchmark_and_screen_selectivity(spark):
    """An empty benchmark flags nothing; on disjoint corpora the bloom
    screen passes ~fpp of grams, i.e. the verify-join shuffle is a
    vanishing fraction of corpus grams (the operator's scale claim)."""
    from ferramenta_etl_spark.operators.text import (
        _bloom_params,
        _bloom_positions,
        _mix64,
        contamination_hits_scaled,
    )

    corpus = spark.createDataFrame(
        [(i, f"alpha bravo charlie delta echo {i}") for i in range(50)],
        "doc_id long, text string",
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert contamination_hits_scaled(corpus, empty, n=3).count() == 0

    # direct fpp check of the bitmap math (numpy, no Spark): insert 10k
    # random keys, probe 10k others; observed rate within 5x of nominal
    import numpy as np

    rng = np.random.default_rng(7)
    m, k = _bloom_params(10_000, 1e-3)
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    ins = _mix64(rng.integers(0, 2**31, 10_000, dtype=np.int64).view(np.uint64))
    for i in range(k):
        pos = _bloom_positions(ins, i, m)
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    probe = _mix64(
        rng.integers(2**31, 2**32, 10_000, dtype=np.int64).view(np.uint64)
    )
    ok = np.ones(10_000, dtype=bool)
    for i in range(k):
        pos = _bloom_positions(probe, i, m)
        ok &= ((bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1) == 1
    assert ok.mean() <= 5e-3, f"observed fpp {ok.mean():.4f} vs nominal 1e-3"


def test_contamination_bloom_validates_parameters(spark):
    from ferramenta_etl_spark.operators.text import contamination_hits_scaled

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="fpp"):
        contamination_hits_scaled(df, df, fpp=0.0)
    with pytest.raises(ValueError, match="fpp"):
        contamination_hits_scaled(df, df, fpp=1.0)
    with pytest.raises(ValueError, match="expected_grams"):
        contamination_hits_scaled(df, df, expected_grams=0)
    with pytest.raises(ValueError, match="n must"):
        contamination_hits_scaled(df, df, n=0)


def test_hamming_pairs_equals_brute_force(spark):
    """The factored pigeonhole kernel (round 12) against an all-pairs
    python reference on random-ish 64-bit fingerprints with planted
    near-neighbors: exact same pair set and distances at max_hamming <=
    n_blocks-1 (the pigeonhole recall bound makes blocked == brute
    force, not approximately but exactly)."""
    import random

    from ferramenta_etl_spark.operators.dedup import hamming_pairs

    rng = random.Random(42)
    fps = {i: rng.getrandbits(64) for i in range(40)}
    # plant near pairs: ids 100+i = ids i with 1..3 bits flipped
    for i in range(6):
        fp = fps[i]
        for _ in range(rng.randint(1, 3)):
            fp ^= 1 << rng.randrange(64)
        fps[100 + i] = fp

    def signed(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    df = spark.createDataFrame(
        [(i, signed(v)) for i, v in fps.items()], "doc_id long, fp long"
    )
    got = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in hamming_pairs(df, max_hamming=3, n_blocks=4).collect()
    }
    want = {}
    ids = sorted(fps)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            h = bin(fps[a] ^ fps[b]).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert got == want and len(want) >= 6


def test_contamination_auto_routes_and_agrees(spark, sf_dir):
    """The probe-and-route wrapper returns the identical relation on
    BOTH routes: with the default limit the fixture benchmark
    broadcasts; with limit=0 the bloom path is forced — results equal
    either way, and equal to the direct hashed path."""
    from ferramenta_etl_spark.operators.text import (
        contamination_hits,
        contamination_hits_auto,
    )
    from ferramenta_etl_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    want = {
        (r.doc_id, r.n_hits)
        for r in contamination_hits(corpus, bench, n=5, hashed=True).collect()
    }
    assert want
    broadcast_route = {
        (r.doc_id, r.n_hits)
        for r in contamination_hits_auto(corpus, bench, n=5).collect()
    }
    bloom_route = {
        (r.doc_id, r.n_hits)
        for r in contamination_hits_auto(
            corpus, bench, n=5, broadcast_gram_limit=0
        ).collect()
    }
    assert broadcast_route == bloom_route == want
