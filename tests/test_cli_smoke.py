"""One end-to-end smoke of every user-facing CLI command (in-process
via main(argv)) — the wiring regressions that per-module tests miss:
argument plumbing, sink layout, registry auto-creation, idempotent
re-runs. Uses sf0.001 and a tmp cwd so nothing touches the repo root."""

import os

import pytest

from ferramenta_etl_spark.__main__ import main

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def cli_tmp(tmp_path, monkeypatch, spark):
    # chdir for the CLI's auto-created job registry (Python-side); sink
    # paths must be ABSOLUTE because Spark resolves relative output
    # paths against the driver JVM's cwd, not the Python process cwd
    monkeypatch.chdir(tmp_path)
    return tmp_path


def _run(*argv) -> int:
    return main([*argv, "--sf-dir", SF, "--cpus", "4"], _stop_session=False)


def test_cli_list_run_and_rerun_idempotent(cli_tmp):
    s = str(cli_tmp / "s")
    assert _run("list") == 0
    assert _run("run", "alimentacao_parcela_ciot", "--sink-dir", s) == 0
    # second run appends zero (idempotent sink) and still exits 0
    assert _run("run", "alimentacao_parcela_ciot", "--sink-dir", s) == 0


def test_cli_run_all(cli_tmp):
    assert _run("run-all", "--sink-dir", str(cli_tmp / "s")) == 0


def test_cli_run_all_fails_on_missing_tables(cli_tmp, capsys):
    """run-all over a source directory with no tables exits 1, and the
    status line marks the failed job ❌ (the concurrent run still reports
    through the CLI's progress runner)."""
    empty = cli_tmp / "no_tables"
    empty.mkdir()
    argv = ["run-all", "--sink-dir", str(cli_tmp / "s"),
            "--sf-dir", str(empty), "--cpus", "4"]
    assert main(argv, _stop_session=False) == 1
    status = capsys.readouterr().out.strip().splitlines()[-1]
    assert "❌" in status
    assert "✅" not in status


def test_cli_curate_batch_and_stream(cli_tmp):
    assert (
        _run("curate", "--sink-dir", str(cli_tmp / "s"),
             "--redact-pii", "--sample-rate", "0.8") == 0
    )
    assert _run("curate-stream", "--sink-dir", str(cli_tmp / "ss")) == 0


def test_cli_stream_and_rollup(cli_tmp, spark):
    s = str(cli_tmp / "s")
    assert _run("stream", "--sink-dir", s) == 0
    assert _run("rollup", "--sink-dir", s) == 0
    # multi-resolution cascade (round 11): hour/day levels appear and
    # each coarse level's totals re-aggregate the one below
    assert _run("rollup", "--sink-dir", s, "--cascade") == 0
    from pyspark.sql import functions as F

    fine = spark.read.parquet(f"{s}/events_rollup")
    day = spark.read.parquet(f"{s}/events_rollup_1_day")
    assert day.count() > 0
    # no --watermark-ms = FINAL BACKFILL: every level bakes everything,
    # including the trailing partial day, so totals match exactly
    assert (
        day.agg(F.sum("n_events")).first()[0]
        == fine.agg(F.sum("n_events")).first()[0]
    )


def test_cli_optimize_compact_and_zorder(cli_tmp, spark):
    src = str(cli_tmp / "t.parquet")
    spark.range(1000).selectExpr("id", "id % 7 AS k").repartition(8).write.parquet(src)
    assert _run("optimize", src) == 0
    assert _run("optimize", src, "--zorder", "k", "--files", "2") == 0
    assert spark.read.parquet(src).count() == 1000


def test_cli_stats(cli_tmp, capsys):
    assert _run("stats") == 0
    out = capsys.readouterr().out
    assert "tokens" in out and "q_p10/p50/p90" in out


def test_cli_ingest_jsonl(cli_tmp, capsys):
    src = cli_tmp / "in.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s", "n_chars": 11}\n'
        "garbage line\n"
        '{"doc_id": 2, "text": "ola", "lang": "pt", "source": "s", "n_chars": 3}\n'
    )
    sink = str(cli_tmp / "sink")
    qdir = str(cli_tmp / "quar")
    assert _run("ingest", str(src), "--sink-dir", sink, "--quarantine-dir", qdir) == 0
    out = capsys.readouterr().out
    assert "2 rows loaded, 1 corrupt" in out
    # rerun: idempotent — zero appended
    assert _run("ingest", str(src), "--sink-dir", sink, "--quarantine-dir", qdir) == 0
    out = capsys.readouterr().out
    assert "0 rows loaded" in out


def test_cli_neardup_admit_idempotent(cli_tmp, capsys):
    s = str(cli_tmp / "s")
    assert _run("neardup-admit", "--sink-dir", s) == 0
    first = capsys.readouterr().out
    assert "docs admitted" in first
    n_first = int(first.split("neardup-admit:")[1].split()[0])
    assert n_first > 0
    # rerun: the same batch re-admits the same docs, index appends zero
    assert _run("neardup-admit", "--sink-dir", s) == 0
    second = capsys.readouterr().out
    assert int(second.split("neardup-admit:")[1].split()[0]) == n_first
    assert os.path.isdir(os.path.join(s, "minhash_index"))


def test_cli_media_admit_idempotent(cli_tmp, capsys):
    s = str(cli_tmp / "s")
    assert _run("media-admit", "--sink-dir", s) == 0
    first = capsys.readouterr().out
    assert "images admitted" in first
    n_first = int(first.split("media-admit:")[1].split()[0])
    assert n_first > 0
    # rerun: the same batch re-admits the same images, index appends zero
    assert _run("media-admit", "--sink-dir", s) == 0
    second = capsys.readouterr().out
    assert int(second.split("media-admit:")[1].split()[0]) == n_first
    assert os.path.isdir(os.path.join(s, "image_fp_index"))


def test_cli_make_dataset(cli_tmp, capsys):
    import gzip
    import json

    s = str(cli_tmp / "s")
    assert _run("make-dataset", "--sink-dir", s) == 0
    assert "JSONL shard" in capsys.readouterr().out
    out_dir = os.path.join(s, "dataset_jsonl")
    files = [f for f in os.listdir(out_dir) if f.endswith(".json.gz")]
    assert files
    rows = []
    for f in files:
        with gzip.open(os.path.join(out_dir, f), "rt") as fh:
            rows += [json.loads(line) for line in fh]
    assert rows
    assert {"seq_id", "seq_tokens", "doc_id", "chunk_idx", "text",
            "n_chunk_tokens"} <= set(rows[0])
    # packing contract: no sequence exceeds the budget unless it is a
    # single over-long chunk
    by_seq = {}
    for r in rows:
        by_seq.setdefault(r["seq_id"], []).append(r)
    for seq, chunks in by_seq.items():
        total = sum(c["n_chunk_tokens"] for c in chunks)
        assert total == chunks[0]["seq_tokens"]
        assert total <= 2048 or len(chunks) == 1
    # the manifest records exactly what landed on disk
    manifest = json.load(open(os.path.join(out_dir, "_manifest.json")))
    assert manifest["n_rows"] == len(rows)
    assert manifest["n_shards"] == len(files)
    assert manifest["config"]["budget_tokens"] == 2048


def test_cli_curate_clean_lines(cli_tmp):
    assert (
        _run("curate", "--sink-dir", str(cli_tmp / "s"), "--clean-lines") == 0
    )


def test_cli_ingest_null_key_rows_quarantined_idempotent(cli_tmp, capsys):
    """A valid-JSON line MISSING the key column must not poison the
    idempotent sink: NULL keys never match the anti-join, so without
    quarantine they re-append on every rerun (review finding)."""
    src = cli_tmp / "nokey.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "with key", "lang": "en", "source": "s", "n_chars": 8}\n'
        '{"text": "no key at all", "lang": "en", "source": "s", "n_chars": 13}\n'
    )
    sink = str(cli_tmp / "sink2")
    assert _run("ingest", str(src), "--sink-dir", sink) == 0
    assert "1 rows loaded" in capsys.readouterr().out
    # rerun appends ZERO — the null-key row was quarantined, not loaded
    assert _run("ingest", str(src), "--sink-dir", sink) == 0
    assert "0 rows loaded" in capsys.readouterr().out
    q = os.path.join(sink, "_quarantine", "documents_invalid")
    assert os.path.isdir(q)

def test_cli_ann_index_and_query(cli_tmp, spark):
    for kind in ("ivfpq", "pq", "opq", "ivf"):
        idx = str(cli_tmp / f"idx_{kind}")
        assert _run("ann-index", idx, "--index-kind", kind) == 0
        assert _run("ann-query", idx, "--k", "3") == 0
    # explicit query parquet instead of the first-10-embeddings default
    qp = str(cli_tmp / "queries.parquet")
    spark.read.parquet(f"{SF}/embeddings.parquet").limit(3).selectExpr(
        "vec_id as query_id", "embedding as query_vec"
    ).write.parquet(qp)
    assert _run("ann-query", str(cli_tmp / "idx_pq"), "--queries-path", qp) == 0


def test_cli_media_curate_idempotent(cli_tmp, capsys, spark):
    """The multimodal pipeline end-to-end: first run loads all three
    branches, rerun appends zero to every sink (idempotent), and the
    frame sink's composite key holds one row per scheduled frame."""
    sink = str(cli_tmp / "media")
    assert _run("media-curate", "--sink-dir", sink, "--min-rms", "1.0") == 0
    out1 = capsys.readouterr().out
    assert "media-curate:" in out1
    imgs = spark.read.parquet(f"{sink}/media_images")
    auds = spark.read.parquet(f"{sink}/media_audio")
    frames = spark.read.parquet(f"{sink}/media_frames")
    n_img, n_aud, n_frames = imgs.count(), auds.count(), frames.count()
    assert n_img > 0 and n_aud > 0 and n_frames > 0
    assert imgs.filter("media is null").count() == 0
    assert auds.filter("sample_rate != 16000").count() == 0
    # rerun: every sink appends zero
    assert _run("media-curate", "--sink-dir", sink, "--min-rms", "1.0") == 0
    assert "0 images, 0 audio clips, 0 video frames" in capsys.readouterr().out
    assert spark.read.parquet(f"{sink}/media_images").count() == n_img
    assert spark.read.parquet(f"{sink}/media_frames").count() == n_frames


def test_cli_media_curate_containers_matches_raw(cli_tmp, capsys, spark):
    """--media-format containers pushes REAL PNG/JPEG/WAV bytes through
    the codec front-end end-to-end (VERDICT r08 #1 / r09 #3): audio is
    row-identical with the raw-fixture run (WAV is lossless), images
    are row-identical on the PNG half (even doc_ids, lossless) and
    dimension-identical with bounded pixel deviation on the JPEG half
    (odd doc_ids — q95 baseline JPEG is lossy by design)."""
    import numpy as np

    raw_sink = str(cli_tmp / "mraw")
    con_sink = str(cli_tmp / "mcon")
    assert _run("media-curate", "--sink-dir", raw_sink) == 0
    assert _run(
        "media-curate", "--sink-dir", con_sink,
        "--media-format", "containers",
    ) == 0
    capsys.readouterr()
    a = spark.read.parquet(f"{raw_sink}/media_audio")
    b = spark.read.parquet(f"{con_sink}/media_audio")
    assert a.count() == b.count() > 0
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    ai = spark.read.parquet(f"{raw_sink}/media_images")
    bi = spark.read.parquet(f"{con_sink}/media_images")
    assert ai.count() == bi.count() > 0
    png_a = ai.filter("doc_id % 3 = 0")
    png_b = bi.filter("doc_id % 3 = 0")
    assert png_a.count() == png_b.count() > 0
    assert png_a.exceptAll(png_b).count() == 0
    # GIF posterization truncates DOWN (x & mask), a biased error of
    # ~(16+16+32)/3 ~ 21 mean, worst fixture doc ~29; JPEG q95+4:2:0
    # reads ~9. Garbage ~85.
    for third, tol in ((1, 12.0), (2, 32.0)):
        raw_rows = {
            r.doc_id: r for r in ai.filter(f"doc_id % 3 = {third}").collect()
        }
        con_rows = {
            r.doc_id: r for r in bi.filter(f"doc_id % 3 = {third}").collect()
        }
        assert len(con_rows) == len(raw_rows) > 0
        for did, want in raw_rows.items():
            got = con_rows[did]
            assert (got.width, got.height) == (want.width, want.height), did
            gp = np.frombuffer(bytes(got.media), dtype=np.uint8).astype(int)
            wp = np.frombuffer(bytes(want.media), dtype=np.uint8).astype(int)
            assert np.abs(gp - wp).mean() <= tol, (third, did)

    # round 11: containers mode also probes real MP4 box metadata into
    # its own sink — one row per doc, the fixture's deterministic
    # geometry/duration cycle
    vm = {r.doc_id: r for r in
          spark.read.parquet(f"{con_sink}/media_video_meta").collect()}
    assert len(vm) == ai.count()  # one probed container per doc
    dims = [(64, 48), (320, 240), (640, 360), (128, 96)]
    for did, row in vm.items():
        assert (row.width, row.height) == dims[did % 4]
        assert row.duration_ms == 1000 + (did % 97) * 250
        assert row.video_codec in ("avc1", "hvc1")


def test_cli_vocab_snapshot(cli_tmp, capsys, spark):
    s = str(cli_tmp / "s")
    assert _run("vocab", "--sink-dir", s, "--min-count", "2") == 0
    assert "✅ vocab:" in capsys.readouterr().out
    snap = spark.read.parquet(f"{s}/vocab")
    assert snap.columns == ["token", "tf", "df_approx"]
    assert snap.count() > 0
    # rerun REPLACES the snapshot (derived aggregate, not a log)
    n1 = snap.count()
    assert _run("vocab", "--sink-dir", s, "--min-count", "2") == 0
    assert spark.read.parquet(f"{s}/vocab").count() == n1
    # top-n + bpe tokenizer plumb through
    assert _run("vocab", "--sink-dir", s, "--tokenizer", "bpe_ish",
                "--min-count", "1", "--top-n", "5") == 0
    assert spark.read.parquet(f"{s}/vocab").count() == 5


def test_cli_mine_negatives_idempotent(cli_tmp, capsys, spark):
    s = str(cli_tmp / "s")
    assert _run("mine-negatives", "--sink-dir", s, "--k", "3",
                "--max-sim", "0.99") == 0
    out1 = capsys.readouterr().out
    assert "✅ mine-negatives:" in out1
    sink = spark.read.parquet(f"{s}/hard_negatives")
    n1 = sink.count()
    assert n1 > 0
    # every mined row is a different-label pair with sim under the cap
    anchors = {r.vec_id: r.label for r in
               spark.read.parquet(SF + "/embeddings.parquet")
               .filter("vec_id < 10").collect()}
    for r in sink.collect():
        assert r.label != anchors[r.query_id]
        assert r.sim < 0.99
    # rerun appends ZERO through the keyed idempotent sink
    assert _run("mine-negatives", "--sink-dir", s, "--k", "3",
                "--max-sim", "0.99") == 0
    assert spark.read.parquet(f"{s}/hard_negatives").count() == n1


def test_cli_curate_temperature_mix_idempotent(cli_tmp, spark):
    s = str(cli_tmp / "s")
    assert _run("curate", "--sink-dir", s, "--mix-total", "40",
                "--mix-alpha", "0.3") == 0
    out = spark.read.parquet(f"{s}/curated_documents")
    n1 = out.count()
    assert 0 < n1 <= 40 + out.select("lang", "source").distinct().count()
    # deterministic pick -> replay appends zero
    assert _run("curate", "--sink-dir", s, "--mix-total", "40",
                "--mix-alpha", "0.3") == 0
    assert spark.read.parquet(f"{s}/curated_documents").count() == n1


def test_cli_verify_dataset(cli_tmp, capsys):
    import gzip
    import os as _os

    s = str(cli_tmp / "s")
    assert _run("make-dataset", "--sink-dir", s) == 0
    capsys.readouterr()
    ds = f"{s}/dataset_jsonl"
    assert _run("verify-dataset", ds) == 0
    assert "matches its manifest" in capsys.readouterr().out
    # tamper one shard (and drop the local-FS .crc sidecar, as on an
    # object store) -> exit 1 with the shard named
    shard = sorted(
        f for f in _os.listdir(ds) if f.startswith("part-")
    )[0]
    sp = _os.path.join(ds, shard)
    with gzip.open(sp, "rt") as f:
        content = f.read()
    with gzip.open(sp, "wt") as f:
        f.write(content + '{"seq_id": 0, "text": "evil"}\n')
    crc = _os.path.join(ds, f".{shard}.crc")
    if _os.path.exists(crc):
        _os.remove(crc)
    assert _run("verify-dataset", ds) == 1
    assert shard in capsys.readouterr().out


def test_cli_split_dataset(cli_tmp, capsys, spark):
    """Leakage-safe split snapshot: all docs assigned, ratios near the
    weights, near-dup clusters atomic (checked against a re-derived
    pair sample), deterministic under rerun with the same seed."""
    s = str(cli_tmp / "sp")
    assert _run("split-dataset", "--sink-dir", s,
                "--split-weights", "train=0.8,val=0.1,test=0.1",
                "--split-seed", "11") == 0
    out = capsys.readouterr().out
    assert "✅ split-dataset:" in out
    from pyspark.sql import functions as F

    back = spark.read.parquet(f"{s}/doc_splits")
    n = back.count()
    assert n > 0 and back.select("doc_id").distinct().count() == n
    fr = {r.split: r.cnt for r in back.groupBy("split")
          .agg(F.count("*").alias("cnt")).collect()}
    assert set(fr) <= {"train", "val", "test"}
    assert fr["train"] / n > 0.7
    # rerun: identical assignment (pure function of corpus+seed)
    a = {(r.doc_id, r.split) for r in back.collect()}
    assert _run("split-dataset", "--sink-dir", s,
                "--split-weights", "train=0.8,val=0.1,test=0.1",
                "--split-seed", "11") == 0
    b = {(r.doc_id, r.split)
         for r in spark.read.parquet(f"{s}/doc_splits").collect()}
    assert a == b


def test_cli_ppl_score(cli_tmp, capsys, spark):
    s = str(cli_tmp / "pp")
    assert _run("ppl-score", "--sink-dir", s) == 0
    assert "✅ ppl-score:" in capsys.readouterr().out
    back = spark.read.parquet(f"{s}/doc_ppl")
    assert back.count() > 0
    assert set(back.columns) == {
        "doc_id", "n_tokens", "cross_entropy_bits", "perplexity"
    }
    assert back.filter("cross_entropy_bits <= 0").count() == 0


def test_cli_curate_ppl_gate(cli_tmp, capsys, spark):
    """--ppl-max adds the bigram-LM tail cut as the last curation
    stage: a cap at the corpus's own median cross-entropy appends
    strictly fewer rows than no cap (data-driven — the fixture corpus
    is too uniform for any fixed-bit cap to be meaningful)."""
    from pyspark.sql import functions as F

    s0, s1, s2 = (str(cli_tmp / d) for d in ("p", "c1", "c2"))
    assert _run("ppl-score", "--sink-dir", s0) == 0
    cut = spark.read.parquet(f"{s0}/doc_ppl").agg(
        F.expr("percentile_approx(cross_entropy_bits, 0.5)")
    ).collect()[0][0]
    assert _run("curate", "--sink-dir", s1) == 0
    n_all = spark.read.parquet(f"{s1}/curated_documents").count()
    assert _run("curate", "--sink-dir", s2, "--ppl-max", str(cut)) == 0
    n_gated = spark.read.parquet(f"{s2}/curated_documents").count()
    assert 0 < n_gated < n_all


def test_cli_ppl_score_lm_dir_reuse(cli_tmp, capsys, spark):
    """--lm-dir: first run trains + persists, second run loads the
    artifact (announced) and produces the identical score snapshot."""
    s1, s2 = str(cli_tmp / "pa"), str(cli_tmp / "pb")
    lm_dir = str(cli_tmp / "lm")
    assert _run("ppl-score", "--sink-dir", s1, "--lm-dir", lm_dir) == 0
    capsys.readouterr()
    assert _run("ppl-score", "--sink-dir", s2, "--lm-dir", lm_dir) == 0
    assert "loaded LM from" in capsys.readouterr().out
    a = {r.doc_id: r.cross_entropy_bits
         for r in spark.read.parquet(f"{s1}/doc_ppl").collect()}
    b = {r.doc_id: r.cross_entropy_bits
         for r in spark.read.parquet(f"{s2}/doc_ppl").collect()}
    assert a == b


def test_cli_bpe_train_and_encode(cli_tmp, capsys, spark):
    s = str(cli_tmp / "bp")
    assert _run("bpe-train", "--sink-dir", s, "--merges", "12") == 0
    assert "✅ bpe-train:" in capsys.readouterr().out
    merges = spark.read.parquet(f"{s}/bpe_merges/merges")
    assert 0 < merges.count() <= 12
    assert set(merges.columns) == {"rank", "a", "b"}
    assert _run("bpe-encode", "--sink-dir", s) == 0
    assert "✅ bpe-encode:" in capsys.readouterr().out
    back = spark.read.parquet(f"{s}/doc_bpe")
    assert back.count() > 0
    assert back.filter("size(bpe_tokens) = 0").count() == 0


def test_cli_bm25_index_and_query(cli_tmp, capsys, spark):
    s = str(cli_tmp / "bm")
    assert _run("bm25-index", "--sink-dir", s) == 0
    assert "✅ bm25-index:" in capsys.readouterr().out
    # query with a term that actually occurs in the fixture corpus
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    term = (
        docs.selectExpr("explode(split(lower(text), ' ')) t")
        .filter("t != ''").groupBy("t").count()
        .orderBy("count", ascending=False).first().t
    )
    assert _run("bm25-query", "--sink-dir", s, "--query", term, "--k", "3") == 0
    out = capsys.readouterr().out
    assert "✅ bm25-query:" in out
    assert "\t1\t" in out  # at least one rank-1 hit


def test_cli_dsir_select(cli_tmp, capsys, spark):
    s = str(cli_tmp / "ds")
    assert _run("dsir-select", "--sink-dir", s, "--n-select", "20",
                "--seed", "3") == 0
    assert "✅ dsir-select: 20 docs" in capsys.readouterr().out
    back = spark.read.parquet(f"{s}/dsir_selected")
    assert back.count() == 20
    assert set(back.columns) == {"doc_id", "log_w"}
    # deterministic: rerun with the same seed picks the same ids
    s2 = str(cli_tmp / "ds2")
    assert _run("dsir-select", "--sink-dir", s2, "--n-select", "20",
                "--seed", "3") == 0
    a = {r.doc_id for r in back.collect()}
    b = {r.doc_id for r in spark.read.parquet(f"{s2}/dsir_selected").collect()}
    assert a == b


def test_cli_dsir_select_model_dir_reuse(cli_tmp, capsys, spark):
    """--dsir-dir: first run fits + persists, second run loads the
    artifact (announced) and selects the identical id set."""
    s1, s2 = str(cli_tmp / "da"), str(cli_tmp / "db")
    d = str(cli_tmp / "dsir_model")
    assert _run("dsir-select", "--sink-dir", s1, "--dsir-dir", d,
                "--n-select", "15", "--seed", "7") == 0
    capsys.readouterr()
    assert _run("dsir-select", "--sink-dir", s2, "--dsir-dir", d,
                "--n-select", "15", "--seed", "7") == 0
    assert "loaded DSIR model from" in capsys.readouterr().out
    a = {r.doc_id for r in spark.read.parquet(f"{s1}/dsir_selected").collect()}
    b = {r.doc_id for r in spark.read.parquet(f"{s2}/dsir_selected").collect()}
    assert a == b


def test_cli_quality_classify_and_model_reuse(cli_tmp, capsys, spark):
    s1, s2 = str(cli_tmp / "qa"), str(cli_tmp / "qb")
    d = str(cli_tmp / "clf_model")
    assert _run("quality-classify", "--sink-dir", s1, "--clf-dir", d,
                "--clf-iters", "6") == 0
    assert "✅ quality-classify:" in capsys.readouterr().out
    back = spark.read.parquet(f"{s1}/doc_quality")
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert back.count() == n_docs  # row-count preserving
    assert back.filter("quality_p < 0 or quality_p > 1").count() == 0
    assert _run("quality-classify", "--sink-dir", s2, "--clf-dir", d) == 0
    assert "loaded classifier from" in capsys.readouterr().out
    a = {r.doc_id: round(r.quality_p, 9)
         for r in back.collect()}
    b = {r.doc_id: round(r.quality_p, 9)
         for r in spark.read.parquet(f"{s2}/doc_quality").collect()}
    assert a == b


def test_cli_curate_classifier_gate(cli_tmp, capsys, spark):
    """--clf-min adds the learned quality gate as the last curation
    stage: a floor at the median classifier score appends strictly
    fewer rows than no gate, and the gated set is a subset."""
    s1, s2 = str(cli_tmp / "ca"), str(cli_tmp / "cb")
    assert _run("curate", "--sink-dir", s1) == 0
    all_rows = spark.read.parquet(f"{s1}/curated_documents")
    n_all = all_rows.count()
    # train + score once through the CLI to find a data-driven cut
    d = str(cli_tmp / "clfm")
    assert _run("quality-classify", "--sink-dir", s2, "--clf-dir", d,
                "--clf-iters", "6") == 0
    med = spark.read.parquet(f"{s2}/doc_quality").approxQuantile(
        "quality_p", [0.5], 0.0
    )[0]
    assert _run("curate", "--sink-dir", s2, "--clf-min", str(med),
                "--clf-dir", d) == 0
    gated = spark.read.parquet(f"{s2}/curated_documents")
    n_gated = gated.count()
    assert 0 < n_gated < n_all
    kept_ids = {(r.lang, r.doc_id) for r in gated.select("lang", "doc_id").collect()}
    all_ids = {(r.lang, r.doc_id) for r in all_rows.select("lang", "doc_id").collect()}
    assert kept_ids <= all_ids


def test_cli_bm25_append_idempotent(cli_tmp, capsys, spark):
    s = str(cli_tmp / "bma")
    assert _run("bm25-index", "--sink-dir", s) == 0
    capsys.readouterr()
    # appending the same corpus the index was built over adds nothing
    assert _run("bm25-append", "--sink-dir", s) == 0
    assert "✅ bm25-append: 0 new docs" in capsys.readouterr().out
    # a genuinely new batch lands once, then re-runs add zero
    batch = str(cli_tmp / "batch.parquet")
    spark.createDataFrame(
        [(9_000_001, "zzz qqq zzz"), (9_000_002, "qqq www")],
        "doc_id long, text string",
    ).write.parquet(batch)
    assert _run("bm25-append", "--sink-dir", s, "--target-path", batch) == 0
    assert "✅ bm25-append: 2 new docs" in capsys.readouterr().out
    assert _run("bm25-append", "--sink-dir", s, "--target-path", batch) == 0
    assert "✅ bm25-append: 0 new docs" in capsys.readouterr().out
    assert _run("bm25-query", "--sink-dir", s, "--query", "zzz", "--k", "2") == 0
    out = capsys.readouterr().out
    assert "9000001" in out


def test_cli_dataset_card(cli_tmp, capsys, spark):
    s = str(cli_tmp / "dc")
    assert _run("curate", "--sink-dir", s) == 0
    capsys.readouterr()
    assert _run("dataset-card", "--sink-dir", s) == 0
    out = capsys.readouterr().out
    assert "✅ dataset-card:" in out
    import json

    card = json.loads(
        open(f"{s}/curated_documents/_card.json").read()
    )
    n = spark.read.parquet(f"{s}/curated_documents").count()
    assert card["n_docs"] == n
    assert card["ws_tokens"] > 0
    assert "langs" in card


def test_cli_jdbc_maintenance_sweeps_orphan(cli_tmp, capsys, spark):
    """jdbc-maintenance (VERDICT r09 #8): drops a synthetic orphaned
    staging table on embedded Derby and reports it; a second run is a
    clean no-op."""
    from ferramenta_etl_spark.sinks.jdbc_conflict import _default_staging
    from ferramenta_etl_spark.sources.jdbc import JdbcConfig

    cfg = JdbcConfig(
        url=f"jdbc:derby:{cli_tmp}/maint_db;create=true",
        user="app",
        password="app",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    orphan = _default_staging("maint_t")
    (
        df.write.format("jdbc").mode("overwrite")
        .options(**cfg.base_options(), dbtable=orphan)
        .save()
    )
    argv = [
        "jdbc-maintenance",
        "--jdbc-url", cfg.url,
        "--jdbc-driver", cfg.driver,
        "--jdbc-user", "app",
        "--jdbc-password", "app",
        "--jdbc-table", "maint_t",
    ]
    assert _run(*argv) == 0
    out = capsys.readouterr().out
    assert "dropped 1 orphaned staging tables" in out
    assert orphan.lower() in out.lower()
    assert _run(*argv) == 0
    assert "no orphaned staging tables" in capsys.readouterr().out
    # missing required args is an argparse error, not a traceback
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        _run("jdbc-maintenance")


def test_cli_curate_clf_gate_bootstrap_persists_model(cli_tmp, spark):
    """ADVICE r09: curate --clf-min with an EMPTY --clf-dir must save
    the bootstrapped classifier there and reload it (train-once/
    score-many), so re-running curate scores with frozen weights
    instead of silently retraining."""
    from ferramenta_etl_spark.sinks.layout import _fs_exists

    d = str(cli_tmp / "clf_boot")
    s = str(cli_tmp / "cboot")
    assert not _fs_exists(spark, f"{d}/_clf_meta.json")
    # permissive floor: this test pins the PERSISTENCE contract, not
    # gate strength (test_cli_curate_classifier_gate covers that)
    assert _run("curate", "--sink-dir", s, "--clf-min", "1e-6",
                "--clf-dir", d, "--clf-iters", "4") == 0
    assert _fs_exists(spark, f"{d}/_clf_meta.json")
    n1 = spark.read.parquet(f"{s}/curated_documents").count()
    assert n1 > 0
    # rerun: loads the persisted model (idempotent sink appends zero)
    assert _run("curate", "--sink-dir", s, "--clf-min", "1e-6",
                "--clf-dir", d, "--clf-iters", "4") == 0
    assert spark.read.parquet(f"{s}/curated_documents").count() == n1


def test_cli_curate_decontaminate_spans(cli_tmp, capsys, spark):
    """curate --decontaminate-spans: span excision keeps at least every
    doc the drop mode keeps, and the GUARANTEE holds — no output text
    shares a 5-gram with the benchmark (the contaminated spans are
    gone, not just flagged)."""
    bench_path = str(cli_tmp / "bench.parquet")
    spark.read.parquet(f"{SF}/documents.parquet").filter(
        "doc_id % 97 = 0"
    ).select("doc_id", "text").write.parquet(bench_path)

    drop_sink = str(cli_tmp / "cdrop")
    span_sink = str(cli_tmp / "cspan")
    assert _run("curate", "--sink-dir", drop_sink, "--benchmark", bench_path) == 0
    assert _run(
        "curate", "--sink-dir", span_sink, "--benchmark", bench_path,
        "--decontaminate-spans",
    ) == 0
    capsys.readouterr()
    dropped = spark.read.parquet(f"{drop_sink}/curated_documents")
    spanned = spark.read.parquet(f"{span_sink}/curated_documents")
    assert spanned.count() >= dropped.count() > 0

    bench_grams = set()
    for r in spark.read.parquet(bench_path).collect():
        toks = r.text.lower().split(" ")
        for i in range(len(toks) - 4):
            bench_grams.add(" ".join(toks[i : i + 5]))
    n_excised = 0
    for r in spanned.collect():
        toks = r.text.lower().split(" ")
        grams = {
            " ".join(toks[i : i + 5]) for i in range(len(toks) - 4)
        }
        assert not (grams & bench_grams), r.doc_id
        n_excised += 1
    assert n_excised == spanned.count()


def test_cli_keywords(cli_tmp, capsys, spark):
    s = str(cli_tmp / "kw")
    assert _run("keywords", "--sink-dir", s, "--top-n", "3") == 0
    assert "✅ keywords:" in capsys.readouterr().out
    snap = spark.read.parquet(f"{s}/keywords")
    assert snap.columns == ["doc_id", "term", "tfidf", "rank"]
    assert snap.filter("rank > 3").count() == 0
    assert snap.count() > 0
