"""Idempotent sink semantics (≙ ON CONFLICT DO NOTHING, S:214-218):
write twice -> no duplicates; conflicting keys -> first writer wins."""

import os
import uuid

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ferramenta_etl_spark.sinks import ensure_table, write_ignore_conflicts
from ferramenta_etl_spark.sources import load_table
from ferramenta_etl_spark.sources.tables import SchemaContractError


@pytest.fixture()
def target(tmp_path):
    return str(tmp_path / "parcela_sink")


def test_rerun_is_noop(spark, sf_dir, target):
    li = load_table(spark, sf_dir, "lineitem").limit(500)
    n1 = write_ignore_conflicts(li, target, keys=["l_orderkey", "l_linenumber"])
    n2 = write_ignore_conflicts(li, target, keys=["l_orderkey", "l_linenumber"])
    assert n1 > 0 and n2 == 0
    out = spark.read.parquet(target)
    assert out.count() == n1
    assert (
        out.groupBy("l_orderkey", "l_linenumber").count().filter(F.col("count") > 1).count()
        == 0
    )


def test_fresh_sink_with_absent_parent_dir(spark, tmp_path):
    # Regression: java.io.File.createNewFile does not create parent
    # dirs, so locking a brand-new sink under a not-yet-existing
    # directory (the CLI's <sink-dir>/<table> layout on first run)
    # raised "No such file or directory" instead of acquiring.
    path = str(tmp_path / "not" / "yet" / "created" / "sink")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING")
    n1 = write_ignore_conflicts(df, path, keys=["k"])
    n2 = write_ignore_conflicts(df, path, keys=["k"])
    assert n1 == 2 and n2 == 0


def test_first_writer_wins(spark, target):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    df2 = spark.createDataFrame([(2, "CHANGED"), (3, "c")], "k int, v string")
    write_ignore_conflicts(df1, target, keys=["k"])
    n = write_ignore_conflicts(df2, target, keys=["k"])
    assert n == 1  # only k=3 is new
    rows = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert rows == {1: "a", 2: "b", 3: "c"}  # k=2 NOT updated (DO NOTHING)


def test_null_keys_conflict_null_safe(spark, target):
    """Cross-batch NULL-key conflicts (regression, r13): the anti-join
    is <=> (anti_join_keys), matching the in-batch dedup — a plain =
    join would re-append the NULL-keyed row on every rerun."""
    df = spark.createDataFrame([(None, "n"), (1, "a")], "k int, v string")
    n1 = write_ignore_conflicts(df, target, keys=["k"])
    n2 = write_ignore_conflicts(df, target, keys=["k"])
    assert n1 == 2 and n2 == 0
    assert spark.read.parquet(target).count() == 2


def test_nan_double_key_conflicts(spark, target):
    """A NaN double key conflicts with the held NaN key, as NaN = NaN in
    Spark's joins and in a PostgreSQL primary-key index: a rerun that
    offers it again appends only the new key."""
    nan = float("nan")
    df1 = spark.createDataFrame([(1.0, "a"), (nan, "n1")], "k double, v string")
    df2 = spark.createDataFrame([(2.0, "b"), (nan, "n2")], "k double, v string")
    assert write_ignore_conflicts(df1, target, keys=["k"]) == 2
    assert write_ignore_conflicts(df2, target, keys=["k"]) == 1
    rows = spark.read.parquet(target).collect()
    assert sorted(r.v for r in rows) == ["a", "b", "n1"]


def test_in_batch_duplicates_collapse(spark, target):
    df = spark.createDataFrame([(1, "x"), (1, "y"), (2, "z")], "k int, v string")
    n = write_ignore_conflicts(df, target, keys=["k"], order_by=["v"])
    assert n == 2  # deterministic pick per key


def test_schema_contract_on_append(spark, target):
    """A renamed column and a same-named column whose type drifted both
    raise before anything is appended: mixed-type part files would
    poison every later read of the sink."""
    df1 = spark.createDataFrame([(1, "a")], "k int, v string")
    write_ignore_conflicts(df1, target, keys=["k"])
    before = _files_under(target)
    bad = spark.createDataFrame([(2, "b")], "k int, OTHER string")
    with pytest.raises(SchemaContractError):
        write_ignore_conflicts(bad, target, keys=["k"])
    drifted = spark.createDataFrame([(2, 2.0)], "k int, v double")
    with pytest.raises(SchemaContractError, match="drift"):
        write_ignore_conflicts(drifted, target, keys=["k"])
    assert _files_under(target) == before


def test_ensure_table_idempotent(spark, target):
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    assert ensure_table(spark, target, df) is True
    assert ensure_table(spark, target, df) is False
    assert spark.read.parquet(target).count() == 0


def test_partitioned_sink_rerun_is_noop(spark, target):
    df = spark.createDataFrame(
        [("2024-01-01", 1, "a"), ("2024-01-01", 2, "b"), ("2024-01-02", 3, "c")],
        "dt string, k int, v string",
    )
    n1 = write_ignore_conflicts(df, target, keys=["dt", "k"], partition_cols=["dt"])
    n2 = write_ignore_conflicts(df, target, keys=["dt", "k"], partition_cols=["dt"])
    assert n1 == 3 and n2 == 0
    out = spark.read.parquet(target)
    assert out.count() == 3
    assert sorted(out.columns) == ["dt", "k", "v"]  # partition col survives
    import os

    assert os.path.isdir(f"{target}/dt=2024-01-01")  # hive layout on disk


def test_partitioned_sink_prunes_conflict_scan(spark, target):
    """The conflict check must read ONLY the touched partitions: poison an
    untouched partition directory with a corrupt file — a whole-table key
    scan would die on it, the pruned scan never opens it."""
    import os

    day1 = spark.createDataFrame([("2024-01-01", 1, "a")], "dt string, k int, v string")
    day2 = spark.createDataFrame([("2024-01-02", 2, "b")], "dt string, k int, v string")
    write_ignore_conflicts(day1, target, keys=["dt", "k"], partition_cols=["dt"])
    write_ignore_conflicts(day2, target, keys=["dt", "k"], partition_cols=["dt"])
    bad = f"{target}/dt=2024-01-01/part-99999-corrupt.snappy.parquet"
    with open(bad, "wb") as f:
        f.write(b"this is not parquet")
    try:
        day2b = spark.createDataFrame(
            [("2024-01-02", 2, "DUP"), ("2024-01-02", 9, "new")],
            "dt string, k int, v string",
        )
        n = write_ignore_conflicts(day2b, target, keys=["dt", "k"], partition_cols=["dt"])
        assert n == 1  # k=9 only; k=2 conflict detected within the pruned day
    finally:
        os.remove(bad)
    out = spark.read.parquet(target).filter(F.col("dt") == "2024-01-02")
    assert {r.k: r.v for r in out.collect()} == {2: "b", 9: "new"}


def test_partition_cols_must_be_keys(spark, target):
    df = spark.createDataFrame([("2024-01-01", 1, "a")], "dt string, k int, v string")
    with pytest.raises(ValueError, match="subset of keys"):
        write_ignore_conflicts(df, target, keys=["k"], partition_cols=["dt"])


def test_bad_partition_cols_refused_before_quarantine(spark, tmp_path):
    """A call refused for its partition_cols quarantines nothing: a
    retry after fixing the call would otherwise quarantine the same
    rows a second time, for a load that never happened."""
    df = spark.createDataFrame([(None, "2024-01-01", "a")], "k int, dt string, v string")
    bad = tmp_path / "bad"
    with pytest.raises(ValueError, match="subset of keys"):
        write_ignore_conflicts(
            df,
            str(tmp_path / "sink"),
            keys=["k"],
            partition_cols=["dt"],
            bad_records_path=str(bad),
        )
    assert not bad.exists()


def test_partitioned_rerun_runs_the_batch_once(spark, target):
    """A partitioned sink that holds data reads the batch twice, for
    the touched partitions and for the anti-join; both read one
    materialized copy, so the batch's plan runs once."""
    produced = spark.sparkContext.accumulator(0)

    def source(batches):
        for pdf in batches:
            produced.add(len(pdf))
            yield pdf

    df = (
        spark.range(100)
        .select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") % 4).cast("int").alias("p"),
        )
        .mapInPandas(source, "k int, p int")
    )
    kw = dict(keys=["k", "p"], partition_cols=["p"])
    assert write_ignore_conflicts(df, target, **kw) == 100
    before = produced.value
    assert write_ignore_conflicts(df, target, **kw) == 0
    assert produced.value - before == 100


def test_partitioned_sink_survives_empty_first_write(spark, tmp_path):
    """A partitioned first load with ZERO rows writes no part files
    (nothing to partition) — the sink directory must not poison later
    loads with UNABLE_TO_INFER_SCHEMA (regression: hypothesis found it
    via an all-sub-shingle first batch in the dedup index)."""
    from ferramenta_etl_spark.sinks import write_ignore_conflicts

    path = str(tmp_path / "sink")
    empty = spark.createDataFrame([], "k long, p long, v string")
    assert write_ignore_conflicts(
        empty, path, keys=["k", "p"], partition_cols=["p"]
    ) == 0
    rows = spark.createDataFrame([(1, 0, "x"), (2, 1, "y")], "k long, p long, v string")
    assert write_ignore_conflicts(
        rows, path, keys=["k", "p"], partition_cols=["p"]
    ) == 2
    # and the conflict check works once data exists
    assert write_ignore_conflicts(
        rows, path, keys=["k", "p"], partition_cols=["p"]
    ) == 0


# ---------------------------------------------------------------------------
# Chaos: interrupted writes (VERDICT r05 #6). S:225/S:217's crash story
# is "lose at most the in-flight batch; a rerun inserts only new keys".
# These simulate the two ways a killed append actually manifests on a
# parquet sink: (a) a SUBSET of the batch became visible (non-atomic
# multi-file commit on an object store), (b) nothing became visible but
# orphan part files sit under _temporary/ (killed before job commit).


def test_interrupted_append_replay_plain(spark, target):
    """Crash made only part of batch 2 visible; replaying the FULL job
    (batch 1 + batch 2) must insert exactly the missing keys once."""
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    b2 = spark.createDataFrame([(3, "c"), (4, "d"), (5, "e")], "k int, v string")
    write_ignore_conflicts(b1, target, keys=["k"])
    # simulated torn commit: one of batch 2's rows landed, rest lost
    b2.filter(F.col("k") == 3).write.mode("append").parquet(target)
    n = write_ignore_conflicts(b2, target, keys=["k"])
    assert n == 2  # k=4, k=5 — k=3 survived the crash and is not re-inserted
    out = spark.read.parquet(target)
    assert out.count() == 5
    assert out.groupBy("k").count().filter(F.col("count") > 1).count() == 0


def test_interrupted_append_replay_partitioned(spark, target):
    """Torn multi-partition append: the crash committed one day's
    directory but not the other; replay completes the batch exactly-once
    with the conflict scan still pruned to the touched days."""
    df = spark.createDataFrame(
        [("2024-01-01", 1, "a"), ("2024-01-02", 2, "b"), ("2024-01-02", 3, "c")],
        "dt string, k int, v string",
    )
    write_ignore_conflicts(
        df.limit(0), target, keys=["dt", "k"], partition_cols=["dt"]
    )  # bootstrapped empty sink (first batch was in flight)
    # crash left only the 01-01 partition visible
    df.filter(F.col("dt") == "2024-01-01").write.mode("append").partitionBy(
        "dt"
    ).parquet(target)
    n = write_ignore_conflicts(df, target, keys=["dt", "k"], partition_cols=["dt"])
    assert n == 2  # the two 01-02 rows
    out = spark.read.parquet(target)
    assert out.count() == 3
    assert (
        out.groupBy("dt", "k").count().filter(F.col("count") > 1).count() == 0
    )
    # replay of the replay is a no-op
    assert write_ignore_conflicts(df, target, keys=["dt", "k"], partition_cols=["dt"]) == 0


def test_orphan_temporary_files_do_not_poison_replay(spark, tmp_path):
    """A job killed BEFORE commit leaves real parquet part files under
    _temporary/ that no reader will ever see. The replay must treat the
    sink as data-free (regression: _has_data_files counted hidden files,
    sending the replay down the read path of a partitioned sink whose
    only visible content is the footerless bootstrap -> schema-inference
    crash)."""
    import os

    path = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [("2024-01-01", 1, "a"), ("2024-01-02", 2, "b")], "dt string, k int, v string"
    )
    write_ignore_conflicts(df.limit(0), path, keys=["dt", "k"], partition_cols=["dt"])
    # fabricate the killed job's leftovers: a REAL parquet file, hidden
    tmp_task_dir = f"{path}/_temporary/0/task_0/dt=2024-01-01"
    scratch = str(tmp_path / "scratch")
    df.filter(F.col("k") == 1).drop("dt").coalesce(1).write.parquet(scratch)
    os.makedirs(tmp_task_dir)
    part = next(f for f in os.listdir(scratch) if f.endswith(".parquet"))
    os.rename(f"{scratch}/{part}", f"{tmp_task_dir}/{part}")
    n = write_ignore_conflicts(df, path, keys=["dt", "k"], partition_cols=["dt"])
    assert n == 2  # full batch inserted; orphan temp content ignored
    out = spark.read.parquet(path)
    assert {r.k for r in out.collect()} == {1, 2}


def test_concurrent_appends_with_overlapping_keys(spark, target):
    """The parquet race VERDICT r05 #5 asked to pin or close, closed:
    without the sink lock, two writers could both pass the anti-join
    before either appends and the same key lands twice. Eight threads
    submit overlapping key ranges concurrently (Spark job submission is
    thread-safe); the atomic-create lock serializes the whole anti-join
    + append sequences, so the final sink holds every key EXACTLY once
    and the per-writer appended counts partition the distinct key set."""
    import threading

    results: list[int | None] = [None] * 8
    errors: list[Exception] = []

    def writer(i: int) -> None:
        try:
            rows = [(k, f"w{i}") for k in range(i * 5, i * 5 + 15)]
            df = spark.createDataFrame(rows, "k int, v string")
            results[i] = write_ignore_conflicts(df, target, keys=["k"])
        except Exception as exc:  # noqa: BLE001 — surfaced to the assert
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    distinct_keys = set(range(7 * 5 + 15))  # union of all writers' ranges
    out = spark.read.parquet(target)
    assert out.count() == len(distinct_keys)
    assert (
        out.groupBy("k").count().filter(F.col("count") > 1).count() == 0
    )
    assert sum(results) == len(distinct_keys)  # type: ignore[arg-type]


def test_stale_sink_lock_taken_over(spark, target, tmp_path):
    """A writer that crashed while holding the lock must not wedge the
    sink forever: a lock file older than lock_stale_s is taken over."""
    import os
    import time

    lockfile = target + ".__lock__"
    open(lockfile, "w").close()
    old = time.time() - 10_000
    os.utime(lockfile, (old, old))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    n = write_ignore_conflicts(df, target, keys=["k"], lock_stale_s=600.0)
    assert n == 2
    assert not os.path.exists(lockfile)  # released after the write


def test_held_sink_lock_times_out(spark, target):
    """A FRESH foreign lock (live writer) blocks until lock_timeout_s,
    then raises the documented error instead of racing the anti-join."""
    import os

    from ferramenta_etl_spark.sinks import SinkLockTimeout

    lockfile = target + ".__lock__"
    open(lockfile, "w").close()
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    with pytest.raises(SinkLockTimeout):
        write_ignore_conflicts(df, target, keys=["k"], lock_timeout_s=0.5)
    os.remove(lockfile)


def test_deposed_holder_does_not_delete_new_lock(spark, target):
    """ADVICE r07 (medium): release is ownership-checked. If the lock was
    taken over while we held it (simulated by rewriting the token), the
    deposed holder must leave the new holder's lock in place."""
    import os

    from ferramenta_etl_spark.sinks.idempotent import _sink_lock

    lockfile = target + ".__lock__"
    with _sink_lock(spark, target, timeout_s=5.0, stale_s=600.0):
        with open(lockfile) as fh:
            ours = fh.read().strip()
        assert len(ours) == 32  # uuid4 hex token stamped on acquire
        with open(lockfile, "w") as fh:
            fh.write("someone-elses-token")
    # exit did NOT delete the foreign lock
    assert os.path.exists(lockfile)
    os.remove(lockfile)


def test_heartbeat_keeps_slow_holder_alive(spark, target):
    """ADVICE r07 (medium): a healthy holder whose critical section
    outlives stale_s is never presumed orphaned — the heartbeat refreshes
    the lock mtime, so a waiter sees a FRESH lock and times out instead
    of taking over and double-holding."""
    import os
    import time

    from ferramenta_etl_spark.sinks import SinkLockTimeout
    from ferramenta_etl_spark.sinks.idempotent import _sink_lock

    lockfile = target + ".__lock__"
    with _sink_lock(spark, target, timeout_s=5.0, stale_s=2.0):
        time.sleep(3.5)  # > stale_s: heartbeat (stale_s/4 cadence) must
        # have touched the file, so its mtime is recent
        age = time.time() - os.path.getmtime(lockfile)
        assert age < 2.0, f"heartbeat did not refresh lock (age {age:.1f}s)"
        # a contender observing the refreshed lock must TIME OUT, not
        # take over
        with pytest.raises(SinkLockTimeout):
            with _sink_lock(spark, target, timeout_s=1.0, stale_s=2.0):
                pass
    assert not os.path.exists(lockfile)  # released by the rightful owner


# ---------------------------------------------------------------------------
# ON CONFLICT DO NOTHING, modelled in pure Python
# ---------------------------------------------------------------------------

_ROW = "k1 int, k2 string, o int, v string"
_COLS = ["k1", "k2", "o", "v"]
_KEYS = ["k1", "k2"]
_row = st.tuples(
    st.one_of(st.none(), st.integers(0, 3)),
    st.one_of(st.none(), st.sampled_from(["a", "b"])),
    st.one_of(st.none(), st.integers(0, 2)),
    st.one_of(st.none(), st.sampled_from(["x", "y", "z"])),
)


@st.composite
def _held_and_offered(draw):
    """A held batch and an offered batch over a small key domain, so
    in-batch duplicates of held and of new keys are common; about half
    the time every offered key is a held one."""
    held = draw(st.lists(_row, max_size=8))
    offered = draw(st.lists(_row, max_size=12))
    if held and draw(st.booleans()):
        held_keys = [r[:2] for r in held]
        offered = [draw(st.sampled_from(held_keys)) + r[2:] for r in offered]
    return held, offered


def _asc(x):
    return (x is not None, x)  # Spark's ASC: NULLS FIRST


def _first_per_key(rows):
    """The row each key keeps: first under order_by=["o"], then the
    non-key columns (o, v) as tiebreak."""
    out = {}
    for r in sorted(rows, key=lambda r: (_asc(r[2]), _asc(r[3]))):
        out.setdefault(r[:2], r)
    return out


def _on_conflict_do_nothing(sink, offered):
    """The rows a keyed INSERT ... ON CONFLICT DO NOTHING appends."""
    return [r for k, r in _first_per_key(offered).items() if k not in sink]


def _files_under(path):
    return {os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs}


_NULL_KEYS_CASE = (
    [(None, None, 1, "x"), (2, "a", 0, None)],
    [
        (None, None, 0, "y"), (None, None, None, "z"), (2, None, 1, "x"),
        (2, None, 0, "y"), (2, "a", None, "z"), (3, "b", None, None),
        (3, "b", None, "x"),
    ],
)


@given(case=_held_and_offered(), partition_cols=st.sampled_from([[], ["k1"]]))
@example(case=([(1, "a", 0, "x")], []), partition_cols=[])  # empty batch
@example(  # every offered key held, with in-batch duplicates
    case=(
        [(1, "a", 0, "x"), (None, "b", 1, "y")],
        [(1, "a", 2, "z"), (1, "a", None, "y"), (None, "b", 0, "x")],
    ),
    partition_cols=[],
)
# NULL key parts; duplicates of held and of new keys; partitioned on the
# nullable k1, so a NULL partition value is held and offered
@example(case=_NULL_KEYS_CASE, partition_cols=[])
@example(case=_NULL_KEYS_CASE, partition_cols=["k1"])
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_matches_on_conflict_do_nothing_model(spark, tmp_path, case, partition_cols):
    """The sink's whole row set after writing a held batch and then an
    offered batch equals the pure-Python ON CONFLICT DO NOTHING model,
    and so does the returned count, plain or partitioned; a batch that
    appends nothing adds no file."""
    held, offered = case
    path = str(tmp_path / uuid.uuid4().hex)

    def write(rows):
        df = spark.createDataFrame(rows, _ROW)
        return write_ignore_conflicts(
            df, path, keys=_KEYS, order_by=["o"], partition_cols=partition_cols
        )

    model = _on_conflict_do_nothing({}, held)
    assert write(held) == len(model)
    sink = {r[:2]: r for r in model}
    new = _on_conflict_do_nothing(sink, offered)
    before = _files_under(path)
    assert write(offered) == len(new)
    expected = sorted(model + new, key=lambda r: tuple(map(_asc, r)))
    got = [tuple(r) for r in spark.read.parquet(path).select(*_COLS).collect()]
    assert sorted(got, key=lambda r: tuple(map(_asc, r))) == expected
    if not new:
        assert _files_under(path) == before


def _is_below(plan: str, upper: str, lower: str) -> bool:
    """True iff a node whose line holds ``lower`` sits in the subtree
    of a node whose line holds ``upper`` in a tree-string ``plan``."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    for i, line in enumerate(lines):
        if upper not in line:
            continue
        for below in lines[i + 1 :]:
            if depth(below) <= depth(line):
                break
            if lower in below:
                return True
    return False


def test_conflict_check_runs_before_the_dedup(spark, target, monkeypatch):
    """In the executed plan of the frame the parquet sink checkpoints,
    the anti-join against the held keys sits BELOW the dedup window, so
    the window's exchange and sorts see only the rows that survive."""
    held = spark.createDataFrame([(i, f"v{i}") for i in range(50)], "k int, v string")
    write_ignore_conflicts(held, target, keys=["k"])
    offered = spark.createDataFrame(
        [(i % 60, f"w{i}") for i in range(120)], "k int, v string"
    )
    checkpointed = []
    cls = type(offered)
    local_checkpoint = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        checkpointed.append(self)
        return local_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    assert write_ignore_conflicts(offered, target, keys=["k"]) == 10
    (frame,) = checkpointed
    plan = frame._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "LeftAnti" in final and "Window" in final, final
    assert _is_below(final, "Window", "LeftAnti"), final
    assert not _is_below(final, "LeftAnti", "Window"), final


def _parquet_under(path):
    return {f for f in _files_under(path) if f.endswith(".parquet")}


# ---------------------------------------------------------------------------
# Append layout: the sink rebalances the rows it appends, so a small batch
# lands as one file per partition value, however the batch was spread.
# The batches below are hash-partitioned on the key into 8 partitions,
# which already satisfies the dedup window's distribution, so without the
# rebalance each input partition would write its own file.


def _spread(df):
    return df.repartition(8, "k")


def test_small_append_adds_one_file(spark, target):
    def batch(lo, hi):
        return _spread(
            spark.createDataFrame([(k, f"v{k}") for k in range(lo, hi)], "k int, v string")
        )

    ensure_table(spark, target, batch(0, 0))  # its empty file is not an append
    # a fresh sink, then an append through the anti-join
    for lo, hi, appended in ((0, 100, 100), (50, 250, 150)):
        before = _parquet_under(target)
        assert write_ignore_conflicts(batch(lo, hi), target, keys=["k"]) == appended
        assert len(_parquet_under(target) - before) == 1
    assert spark.read.parquet(target).count() == 250


def test_partitioned_append_adds_one_file_per_value(spark, target):
    def batch(lo, hi):
        return _spread(
            spark.createDataFrame(
                [(f"d{k % 3}", k, f"v{k}") for k in range(lo, hi)],
                "dt string, k int, v string",
            )
        )

    for lo, hi, appended in ((0, 150, 150), (100, 400, 250)):
        before = _parquet_under(target)
        n = write_ignore_conflicts(
            batch(lo, hi), target, keys=["dt", "k"], partition_cols=["dt"]
        )
        assert n == appended
        added = sorted(os.path.basename(os.path.dirname(f))
                       for f in _parquet_under(target) - before)
        assert added == ["dt=d0", "dt=d1", "dt=d2"]
    assert spark.read.parquet(target).count() == 400
