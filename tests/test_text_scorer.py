"""The curation scorer: the one-pass ``lang_id`` / ``document_scores`` /
``score_documents`` against the multi-pass expressions they replaced
(copied below as the reference), and the executed-plan shape that makes
the curation pipeline score each document once, on every core."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ferramenta_etl_spark.operators import text as T

# ---------------------------------------------------------------------------
# Reference: the scorer as it was before the one-pass fold, verbatim.
# ---------------------------------------------------------------------------


def _ref_tokens(text):
    return F.split(F.lower(text), " ")


def _ref_n_tokens(text):
    return F.size(_ref_tokens(text))


def _ref_marker_score(text, markers):
    return F.size(F.filter(_ref_tokens(text), lambda t: t.isin(*markers)))


def ref_lang_id(text):
    scores = {lang: _ref_marker_score(text, m) for lang, m in T.LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    expr = F.lit(None).cast("string")
    for lang in reversed(T.LANGS):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return expr


def _ref_digit_ratio(text):
    return F.coalesce(
        (F.length(text) - F.length(F.translate(text, "0123456789", ""))).cast("double")
        / F.nullif(F.length(text), F.lit(0)),
        F.lit(0.0),
    )


def _ref_punct_ratio(text):
    return F.coalesce(
        F.length(
            F.translate(F.lower(text), "abcdefghijklmnopqrstuvwxyz0123456789 ", "")
        ).cast("double")
        / F.nullif(F.length(text), F.lit(0)),
        F.lit(0.0),
    )


def _ref_stopword_ratio(text):
    stops = F.size(F.filter(_ref_tokens(text), lambda t: t.isin(*T.STOPWORDS)))
    return stops.cast("double") / _ref_n_tokens(text).cast("double")


def ref_quality_score(text):
    length_factor = F.least(_ref_n_tokens(text).cast("double") / 100.0, F.lit(1.0))
    return (
        _ref_stopword_ratio(text) * 0.3
        + (1.0 - _ref_digit_ratio(text)) * 0.3
        + (1.0 - _ref_punct_ratio(text)) * 0.2
        + length_factor * 0.2
    )


# ---------------------------------------------------------------------------
# Equivalence on generated texts
# ---------------------------------------------------------------------------

_MARKERS = sorted({m for ms in T.LANG_MARKERS.values() for m in ms})
# markers (also upper- and title-cased), stopwords, filler, digit and
# punctuation noise, and "" — an empty token makes a run of spaces, or a
# leading or trailing space at either end
_token = st.one_of(
    st.sampled_from(_MARKERS),
    st.sampled_from(_MARKERS).map(str.upper),
    st.sampled_from(_MARKERS).map(str.title),
    st.sampled_from(T.STOPWORDS),
    st.sampled_from(["spark", "tokenize", "x", "1999", "v2.0", "a-b!", "?", ""]),
)
_short = st.lists(_token, max_size=40).map(" ".join)
# over 1 000 tokens: a drawn phrase repeated past the bound
_long = st.lists(_token, min_size=1, max_size=12).map(
    lambda ts: " ".join(ts * (1001 // len(ts) + 1))
)
_text = st.one_of(_short, _short, _short, _long)

# fixed cases every example carries: ties (the alphabetical-first
# rule), no markers at all (the reference answers "de"), upper-case
# markers, space runs, the empty string, NULL, and a document that
# passes the floor
_EDGE = [
    "line",  # de = es
    "column",  # en = es
    "order group",  # fr = zh, 2 each
    "sort line column",  # en = es = 2, de = fr = 1
    "the data of the sort and a line",
    "spark tokenize x",
    "COLUMN Window KEY",
    "  data   scan  ",
    " ",
    "",
    None,
]

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(texts=st.lists(_text, min_size=1, max_size=40))
@settings(**SETTINGS)
def test_one_pass_scorer_equals_reference(spark, texts):
    """lang_id, quality_score, n_tokens and document_scores give exactly
    the reference's lang, unrounded quality double and token count, and
    score_documents keeps exactly the rows the reference projection and
    floor keep, with the same values."""
    rows = [(i, t) for i, t in enumerate(texts + _EDGE)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    text = F.col("text")
    got = docs.select(
        "doc_id",
        "text",
        ref_lang_id(text).alias("ref_lang"),
        ref_quality_score(text).alias("ref_quality"),
        F.round(ref_quality_score(text), 6).alias("ref_quality6"),
        _ref_n_tokens(text).alias("ref_n"),
        T.lang_id(text).alias("lang"),
        T.quality_score(text).alias("quality"),
        T.n_tokens(text).alias("n"),
        T.document_scores(text).alias("s"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        want = (r.ref_lang, r.ref_quality, r.ref_n)
        assert (r.lang, r.quality, r.n) == want, r.text
        if r.text is None:
            assert r.s is None
        else:
            assert (r.s.lang, r.s.quality, r.s.n_tok) == want, r.text

    kept = sorted(
        (r.doc_id, r.text, r.ref_lang, r.ref_quality6, r.ref_n)
        for r in got
        if r.ref_lang is not None and r.ref_quality6 >= 0.5 and r.ref_n >= 5
    )
    new = T.score_documents(docs)
    assert new.columns == ["doc_id", "text", "lang", "quality", "n_tok"]
    assert sorted(tuple(r) for r in new.collect()) == kept


# ---------------------------------------------------------------------------
# Plan shape of the curation pipeline's scoring stage
# ---------------------------------------------------------------------------

# Tokenizing passes (``split(lower(text``) in the whole executed-plan
# string of curated_frame's output, which prints the persisted stage's
# final and initial plans. Before the one-pass fold it was 138: 34 in
# the scoring projection and 34 more in the floor filter pushed below
# it, each twice, plus the scan's pushed-down data filter twice. Now
# the scoring projection holds one fold over one split, and there is no
# pushed-down copy: 2.
MAX_TOKENIZING_PASSES = 2


def test_curated_frame_scores_once_on_every_core(spark, tmp_path):
    """On a one-file, one-row-group documents table, curated_frame's
    scoring runs above a hash exchange on doc_id (the scan-parallelism
    guard), so it has at least defaultParallelism partitions, and the
    executed plan tokenizes each document at most
    MAX_TOKENIZING_PASSES times."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ferramenta_etl_spark.pipeline.curation import curated_frame

    words = ["the", "data", "of", "sort", "column", "group", "spark", "a", "line"]
    texts = [" ".join(words[(i + j) % len(words)] for j in range(12 + i % 7)) for i in range(400)]
    table = pa.table({
        "doc_id": pa.array(range(400), pa.int64()),
        "text": texts,
        "lang": ["de"] * 400,
        "source": [f"src{i % 3}" for i in range(400)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    assert pq.ParquetFile(str(tmp_path / "documents.parquet")).num_row_groups == 1

    out = curated_frame(spark, str(tmp_path))
    try:
        assert out.count() > 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("split(lower(text") <= MAX_TOKENIZING_PASSES, plan

        # the first exchange below the scoring operator is the guard's
        # hash repartition on doc_id, with a partition per core
        final = plan.split("== Initial Plan ==")[0].splitlines()
        at = next(i for i, ln in enumerate(final) if "aggregate(split(lower(text" in ln)
        exchange = next(ln for ln in final[at + 1 :] if "Exchange" in ln)
        m = re.search(r"Exchange hashpartitioning\(doc_id#\d+L?, (\d+)\)", exchange)
        assert m, "\n".join(final)
        assert int(m.group(1)) >= spark.sparkContext.defaultParallelism
    finally:
        for dep in out._persisted_deps:
            dep.unpersist()
