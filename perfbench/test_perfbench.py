"""The benchmark's own tests: seeded inputs are reproducible, and the
correctness checks catch a wrong count; only the test marked slow starts
Spark.

    python3 -m pytest perfbench -q                  # all
    python3 -m pytest perfbench -q -m "not slow"    # without the Spark run
"""

import json
import os
import subprocess
import sys

import pytest

import expected
import gen
from workloads import Tally

SMALL = gen.EtlScale(customers=40, orders=300, lines_per_order=3, parts=50, suppliers=10,
                     events=300)
SMALL_CORPUS = gen.CorpusScale(documents=60, low_quality=10, exact_copies=5, near_copies=5)


def _digests(seed):
    base, delta = gen.etl_tables(seed, SMALL)
    docs, _ = gen.corpus(seed, SMALL_CORPUS)
    return gen.digest(gen.merged(base, delta)), gen.digest({"documents": docs})


def test_same_seed_same_digest():
    assert _digests(7) == _digests(7)


def test_other_seed_other_digest():
    a, b = _digests(7), _digests(8)
    assert a[0] != b[0] and a[1] != b[1]


def test_checks_fail_on_a_wrong_count(tmp_path):
    base, delta = gen.etl_tables(3, SMALL)
    gen.write_tables(base, str(tmp_path / "base"))
    gen.write_tables(gen.merged(base, delta), str(tmp_path / "input"))
    counts = expected.job_counts(["alimentacao_view_adicionais"], str(tmp_path / "base"),
                                 str(tmp_path / "input"))
    appended, held = counts["alimentacao_view_adicionais"]
    assert 0 < appended < held

    tally = Tally()
    tally.expect_equal("rows appended by", {"adicionais": appended}, {"adicionais": appended})
    assert (tally.attempted, tally.failed) == (1, 0)
    tally.expect_equal("rows appended by", {"adicionais": appended}, {"adicionais": appended + 1})
    assert (tally.attempted, tally.failed) == (2, 1)
    assert "expected" in tally.failures[0]


def test_curated_rows_keep_one_document_per_planted_group():
    docs, planted = gen.corpus(5, SMALL_CORPUS)
    rows = expected.curated_rows(docs, planted)
    assert len(rows) == SMALL_CORPUS.documents
    kept = {r[0] for r in rows}
    assert all(min(pair) in kept and max(pair) not in kept for pair in planted)


def test_near_copies_differ_only_in_case():
    """Near copies keep the original's lowercased text, so the engine's
    shingles and MinHash signature are the original's, but not its bytes."""
    docs, planted = gen.corpus(5, SMALL_CORPUS)
    text = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    near = [(text[a], text[b]) for a, b in planted[SMALL_CORPUS.exact_copies:]]
    assert len(near) == SMALL_CORPUS.near_copies
    assert all(a != b and a.lower() == b.lower() for a, b in near)


@pytest.mark.slow
def test_jdbc_incremental_runs_and_checks_out():
    """jdbc_incremental is not in BENCHMARK.json; one short traced run
    keeps its set-up, checks and JDBC layer metrics exercised (starts
    Spark and two embedded Derby databases, about a minute)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "jdbc_incremental", "--seed", "1",
         "--seconds", "1", "--trace", "1"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, out.stdout
    metrics = result["metrics"]
    for name in ("sources.jdbc_scan_s", "sinks.jdbc_stage_s", "sinks.jdbc_statement_s",
                 "sinks.rows_appended"):
        assert metrics[name]["value"] > 0, name
