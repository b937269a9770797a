"""Distributed BPE training — differential oracle: a from-scratch
pure-Python Sennrich trainer (Counter over symbol pairs, same
count-desc/pair-asc tiebreak) must produce the IDENTICAL merge
sequence, and the corpus-side tokenizer must reproduce the reference
encoding word-for-word."""

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from ferramenta_etl_spark.operators.bpe import (
    END,
    bpe_tokenize,
    bpe_vocab,
    encode_word,
    train_bpe,
    train_bpe_from_docs,
    word_freq,
)

# ---------------------------------------------------------------- reference


def py_merge(syms, a, b):
    out, i, n = [], 0, len(syms)
    while i < n:
        if i < n - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def py_train_bpe(word_counts, num_merges, min_pair_count=2):
    vocab = {w: (list(w) + [END], c) for w, c in word_counts.items()}
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for syms, c in vocab.values():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        a, b = best[0]
        merges.append((a, b))
        vocab = {w: (py_merge(s, a, b), c) for w, (s, c) in vocab.items()}
    return merges


def py_encode_text(text, merges):
    out = []
    for w in text.lower().split(" "):
        if w == "":
            continue
        syms = list(w) + [END]
        for a, b in merges:
            syms = py_merge(syms, a, b)
        out.extend(syms)
    return out


WORDS = [
    "low", "lower", "lowest", "new", "newer", "newest", "wide",
    "wider", "widest", "slow", "slower", "spark", "sparks",
]


@pytest.fixture(scope="module")
def corpus():
    rng = random.Random(23)
    return [
        " ".join(rng.choice(WORDS) for _ in range(rng.randint(2, 9)))
        for _ in range(50)
    ]


def test_word_freq_matches_counter(spark, corpus):
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    got = {r.word: r.cnt for r in word_freq(df).collect()}
    want = Counter(w for t in corpus for w in t.lower().split(" ") if w)
    assert got == dict(want)


def test_trained_merges_match_python_bpe(spark, corpus):
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    wc = Counter(w for t in corpus for w in t.lower().split(" ") if w)
    for n in (0, 1, 12, 40):
        got = train_bpe_from_docs(df, n)
        want = py_train_bpe(wc, n)
        assert got == want, f"num_merges={n}"


def test_merge_fold_handles_overlapping_runs(spark):
    """aaa + merge(a,a) must give [aa, a], not [aa, aa] — greedy
    left-to-right, merged output never re-seeds a match."""
    df = spark.createDataFrame([("aaa", 5)], "word string, cnt long")
    merges = train_bpe(df, 3, min_pair_count=1)
    assert merges == py_train_bpe({"aaa": 5}, 3, min_pair_count=1)
    enc = encode_word("aaa", merges[:1])
    assert enc == py_merge(list("aaa") + [END], *merges[0])


def test_min_pair_count_stops_early(spark):
    df = spark.createDataFrame([("ab", 1)], "word string, cnt long")
    assert train_bpe(df, 10) == []  # every pair is a singleton
    assert len(train_bpe(df, 10, min_pair_count=1)) > 0


def test_tokenize_matches_reference(spark, corpus):
    df = spark.createDataFrame(
        list(enumerate(corpus)), "doc_id int, text string"
    )
    merges = train_bpe_from_docs(df, 15)
    got = {
        r.doc_id: r.bpe_tokens for r in bpe_tokenize(df, merges).collect()
    }
    for i, t in enumerate(corpus):
        assert got[i] == py_encode_text(t, merges), i
    # encoding is invertible: join tokens, split on sentinel
    joined = "".join(got[0]).replace(END, " ").strip()
    assert joined == corpus[0].lower()


def test_tokenize_null_and_empty(spark):
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "  ")], "doc_id int, text string"
    )
    rows = {r.doc_id: r.bpe_tokens for r in bpe_tokenize(df, [("a", "b")]).collect()}
    assert rows[0] is None
    assert rows[1] == []
    assert rows[2] == []


def test_vocab_induced_by_merges():
    merges = [("l", "o"), ("lo", "w"), ("e", "r")]
    v = bpe_vocab(merges, alphabet="abclowers")
    assert v.index(END) < v.index("lo")
    assert v[-3:] == ["lo", "low", "er"]
    assert len(v) == len(set(v))


def test_trainer_param_validation(spark):
    df = spark.createDataFrame([("x", 1)], "word string, cnt long")
    with pytest.raises(ValueError, match="num_merges"):
        train_bpe(df, -1)
    with pytest.raises(ValueError, match="min_pair_count"):
        train_bpe(df, 1, min_pair_count=0)


def test_trainer_deterministic_across_partitionings(spark, corpus):
    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    wf = word_freq(df)
    m1 = train_bpe(wf.repartition(13), 10)
    m2 = train_bpe(wf.coalesce(1), 10)
    assert m1 == m2


def test_merges_save_load_roundtrip(spark, corpus, tmp_path):
    from ferramenta_etl_spark.operators.bpe import (
        load_bpe_merges,
        save_bpe_merges,
        train_bpe_from_docs,
    )

    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    merges = train_bpe_from_docs(df, 10)
    path = str(tmp_path / "bpe")
    save_bpe_merges(spark, merges, path)
    assert load_bpe_merges(spark, path) == merges  # ORDER preserved
    with pytest.raises(Exception):
        load_bpe_merges(spark, str(tmp_path / "nope"))
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "_bpe_meta.json").write_text('{"format": "x"}')
    with pytest.raises(ValueError, match="bpe_merges"):
        load_bpe_merges(spark, str(bad))


def test_load_merges_pre_artifact_dir_gets_clear_error(spark, tmp_path):
    from ferramenta_etl_spark.operators.bpe import load_bpe_merges

    legacy = tmp_path / "legacy"
    legacy.mkdir()  # exists, but no meta sidecar
    with pytest.raises(ValueError, match="retrained"):
        load_bpe_merges(spark, str(legacy))


def test_local_trainer_matches_reference_random():
    """train_bpe_local (incremental heap updates) == the naive
    recount-per-round reference on randomized word tables — counts,
    ties, early stop, exhaustion."""
    import random

    from ferramenta_etl_spark.operators.bpe import train_bpe_local

    rng = random.Random(7)
    for trial in range(20):
        wc = {
            "".join(rng.choice("abcde") for _ in range(rng.randint(1, 8))):
                rng.randint(1, 9)
            for _ in range(rng.randint(2, 40))
        }
        for n in (1, 5, 50):
            for mpc in (1, 2, 3):
                got = train_bpe_local(wc, n, min_pair_count=mpc)
                want = py_train_bpe(wc, n, min_pair_count=mpc)
                assert got == want, (trial, n, mpc, wc)


def test_distributed_paths_match_reference(spark, corpus):
    """Above the driver guard (forced with driver_max_words=0) the
    distributed sequential trainer must produce the reference merge
    list, merge for merge."""
    from ferramenta_etl_spark.operators.bpe import train_bpe, word_freq

    df = spark.createDataFrame([(t,) for t in corpus], "text string")
    wc = Counter(w for t in corpus for w in t.lower().split(" ") if w)
    want = py_train_bpe(wc, 24)
    assert train_bpe(word_freq(df), 24, driver_max_words=0) == want


def test_duckdb_replace_chain_equals_greedy_encoder():
    """The bpe_tokenize ORACLE's core claim (round 11): a chain of
    framed-symbol replace() calls — left-to-right, non-overlapping —
    is EXACTLY the greedy adjacent-pair fold of encode_word, for any
    merge sequence. Randomized differential over adversarial alphabets
    (tiny alphabets maximize overlapping-run cases like aaaa with
    (a,a) then (aa,aa))."""
    import duckdb

    from ferramenta_etl_spark.operators.bpe import END, encode_word

    rng = random.Random(23)

    def sql_encode(word: str, merges) -> list[str]:
        def s(x):
            return "\x01" + x + "\x02"

        expr = (
            "regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g')"
            " || chr(1) || '</w>' || chr(2)"
        )
        for a, b in merges:
            expr = f"replace({expr}, '{s(a) + s(b)}', '{s(a + b)}')"
        (enc,) = duckdb.sql(
            f"SELECT {expr} FROM (SELECT '{word}' AS w)"
        ).fetchone()
        return enc.strip("\x01\x02").split("\x02\x01")

    for trial in range(60):
        alpha = "ab" if trial % 3 == 0 else "abc"
        word = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 12)))
        # grow a VALID merge sequence: each merge pairs tokens already
        # producible at that point (mirrors a real trainer's output)
        vocab = list(alpha) + [END]
        merges = []
        for _ in range(rng.randint(0, 8)):
            a, b = rng.choice(vocab), rng.choice(vocab)
            if a == END:  # END never starts a pair
                continue
            merges.append((a, b))
            vocab.append(a + b)
        assert sql_encode(word, merges) == encode_word(word, merges), (
            word, merges,
        )
