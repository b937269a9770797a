"""Streaming == batch: the Structured Streaming mirrors must produce
exactly the batch plans' results when drained with AvailableNow."""

import pytest
from pyspark.sql import functions as F

from ferramenta_etl_spark.plans import extensions
from ferramenta_etl_spark.streaming import (
    dedup_within_watermark,
    run_available_now,
    session_agg_stream,
    sliding_agg_stream,
    stream_events,
    tumbling_agg_stream,
)


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def capped_sessions_batch_replay(events, gap, max_duration, watermark="1 hour"):
    """TEST ORACLE for capped sessions (lives here, not in the package —
    VERDICT r04 watch item #1: it collects the whole events frame via
    toPandas(), fine at small SF, unshippable as a user-callable API).
    Replays the same algorithm per user: emits every session CLOSED by a
    later event ('gap'/'cap'), plus 'timeout' flushes for final open
    sessions whose gap deadline lies before the run's final watermark
    (max event time − delay): an AvailableNow drain commits that
    watermark in a closing no-data microbatch, firing exactly those
    event-time timers. Open sessions past the watermark stay in state."""
    import pandas as pd

    from ferramenta_etl_spark.streaming.stateful import (
        SESSION_SCHEMA,
        _close,
        _duration_ms,
    )

    gap_ms, cap_ms = _duration_ms(gap), _duration_ms(max_duration)
    wm_delay_ms = _duration_ms(watermark)
    pdf = events.select("ts", "user_id", "value").toPandas()
    if pdf.empty:  # no events -> no sessions (max() of nothing is NaN)
        return pd.DataFrame(columns=[f.name for f in SESSION_SCHEMA.fields])
    wm_ms = int(pdf["ts"].astype("int64").max() // 1_000_000) - wm_delay_ms
    rows = []
    for user_id, g in pdf.groupby("user_id"):
        g = g.sort_values("ts", kind="mergesort")
        ts_ms = (g["ts"].astype("int64") // 1_000_000).to_numpy()
        vals = g["value"].to_numpy()
        st = None
        for t_ms, v in zip(ts_ms, vals):
            t_ms, v = int(t_ms), float(v)
            if st is None:
                st = (t_ms, t_ms, 1, v)
            else:
                start, last, n, s = st
                if t_ms - last > gap_ms:
                    rows.append(_close(user_id, st, "gap"))
                    st = (t_ms, t_ms, 1, v)
                elif t_ms - start > cap_ms:
                    rows.append(_close(user_id, st, "cap"))
                    st = (t_ms, t_ms, 1, v)
                else:
                    st = (start, t_ms, n + 1, s + v)
        if st is not None and st[1] + gap_ms < wm_ms:
            rows.append(_close(user_id, st, "timeout"))
    return pd.DataFrame(rows)


@pytest.mark.parametrize(
    "stream_fn,batch_name,kind",
    [
        (tumbling_agg_stream, "events_rollup_serve", "tumbling"),
        (sliding_agg_stream, "events_rollup_serve", "sliding"),
        (session_agg_stream, "events_session_agg", None),
    ],
)
def test_stream_matches_batch(spark, sf_dir, tmp_path, stream_fn, batch_name, kind):
    from pyspark.sql import functions as F

    ev = stream_events(spark, sf_dir)
    assert ev.isStreaming
    out = run_available_now(
        stream_fn(ev), str(tmp_path / "ckpt"), f"q_{batch_name}_{kind}"
    )
    batch = extensions.QUERIES[batch_name](spark, sf_dir)
    if kind is not None:  # merged windowed query: select this stream's kind
        batch = batch.filter(F.col("kind") == kind).drop("kind")
    assert _sorted_rows(out) == _sorted_rows(batch)


def test_interval_join_stream_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream interval join == the same plan run as a
    bounded batch join: purchases paired with same-user signups in the
    preceding 30 minutes."""
    from ferramenta_etl_spark.streaming import interval_join_stream
    from ferramenta_etl_spark.sources import load_table

    ev = stream_events(spark, sf_dir)
    out = run_available_now(
        interval_join_stream(ev), str(tmp_path / "ckpt_ij"), "q_interval_join"
    )
    batch = interval_join_stream(load_table(spark, sf_dir, "events"))
    assert not batch.isStreaming
    assert out.count() > 0
    assert _sorted_rows(out) == _sorted_rows(batch)


def test_dedup_within_watermark(spark, sf_dir, tmp_path):
    ev = stream_events(spark, sf_dir)
    deduped = dedup_within_watermark(ev, keys=["user_id", "event_type"])
    out = run_available_now(deduped, str(tmp_path / "ckpt2"), "q_dedup")
    # one row per (user_id, event_type) that occurs
    assert out.count() == out.select("user_id", "event_type").distinct().count()
    assert out.count() > 0


def test_stream_ignore_conflicts_idempotent(spark, sf_dir, tmp_path):
    """Streaming keyed load: a full REPLAY of the stream (fresh
    checkpoint — the at-least-once worst case) appends zero rows, because
    idempotency is enforced against the sink itself, not stream state."""
    from ferramenta_etl_spark.streaming import stream_ignore_conflicts

    sink = str(tmp_path / "stream_sink")
    n1 = stream_ignore_conflicts(
        stream_events(spark, sf_dir),
        sink,
        keys=["event_id"],
        checkpoint_dir=str(tmp_path / "ck1"),
    )
    n2 = stream_ignore_conflicts(
        stream_events(spark, sf_dir),
        sink,
        keys=["event_id"],
        checkpoint_dir=str(tmp_path / "ck2"),  # fresh checkpoint: full replay
    )
    assert n1 > 0 and n2 == 0
    out = spark.read.parquet(sink)
    assert out.count() == n1
    assert out.select("event_id").distinct().count() == n1


def test_capped_sessions_stateful(spark, sf_dir, tmp_path):
    """applyInPandasWithState capped sessionization == the per-user replay
    of the same semantics (gap OR duration-cap closes a session). The
    AvailableNow drain also commits the final watermark in a closing
    microbatch, so open sessions whose gap deadline precedes it flush
    with closed_by='timeout'; the replay models all three close paths."""
    from ferramenta_etl_spark.streaming import capped_sessions_stream
    from ferramenta_etl_spark.sources import load_table

    gap, cap = "12 hours", "24 hours"
    ev = stream_events(spark, sf_dir)
    out = run_available_now(
        capped_sessions_stream(ev, gap=gap, max_duration=cap),
        str(tmp_path / "ckpt3"),
        "q_capped",
    ).toPandas()

    batch_ev = load_table(spark, sf_dir, "events")
    want = capped_sessions_batch_replay(batch_ev, gap=gap, max_duration=cap)

    assert len(out) == len(want) > 0
    # the duration cap must actually fire on this fixture (else the test
    # proves nothing session_window couldn't), and so must the
    # watermark-driven timeout flush of open sessions
    assert (want["closed_by"] == "cap").any()
    assert (want["closed_by"] == "timeout").any()
    key = ["user_id", "session_start_ms"]
    got = out.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    for col in ["user_id", "session_start_ms", "session_end_ms", "n_events", "closed_by"]:
        assert got[col].tolist() == want[col].tolist(), col
    assert (got["sum_value"] - want["sum_value"]).abs().max() < 1e-9


def test_streaming_curation_matches_batch_and_is_idempotent(spark, sf_dir, tmp_path):
    """The streaming curation ingest: (1) the surviving distinct-text
    set equals the batch pipeline's scoring+filter+exact-dedup stages;
    (2) a second drain (fresh checkpoint, same sink) appends zero — the
    hash-keyed sink is the dedup state, so idempotency holds against
    everything already loaded."""
    from ferramenta_etl_spark.operators.dedup import dedup_exact
    from ferramenta_etl_spark.operators.text import score_documents
    from ferramenta_etl_spark.sources import load_table
    from ferramenta_etl_spark.streaming.curation import run_curation_stream

    sink = str(tmp_path / "sink")
    n = run_curation_stream(spark, sf_dir, sink, str(tmp_path / "ckpt1"))
    assert n > 0

    good = score_documents(load_table(spark, sf_dir, "documents"))
    batch_hashes = {
        r.h for r in dedup_exact(good).select(F.md5("text").alias("h")).collect()
    }
    out = spark.read.parquet(f"{sink}/curated_stream")
    stream_hashes = {r.text_hash for r in out.select("text_hash").collect()}
    assert stream_hashes == batch_hashes
    assert out.count() == len(batch_hashes)  # exactly one row per distinct text

    again = run_curation_stream(spark, sf_dir, sink, str(tmp_path / "ckpt2"))
    assert again == 0


def test_streaming_curation_sampled_subset(spark, sf_dir, tmp_path):
    """The deterministic hash sample streams: the sampled run's
    survivors are a subset of the full run's, selected by the same
    data-keyed rule the batch path uses."""
    from ferramenta_etl_spark.streaming.curation import run_curation_stream

    full_sink = str(tmp_path / "full")
    samp_sink = str(tmp_path / "samp")
    n_full = run_curation_stream(spark, sf_dir, full_sink, str(tmp_path / "c1"))
    n_samp = run_curation_stream(
        spark, sf_dir, samp_sink, str(tmp_path / "c2"), sample_rate=0.5
    )
    assert 0 < n_samp < n_full
    full = {
        r.text_hash
        for r in spark.read.parquet(f"{full_sink}/curated_stream").collect()
    }
    samp = {
        r.text_hash
        for r in spark.read.parquet(f"{samp_sink}/curated_stream").collect()
    }
    assert samp <= full


@pytest.mark.parametrize(
    "stream_fn,batch_name,kind",
    [
        (tumbling_agg_stream, "events_rollup_serve", "tumbling"),
        (session_agg_stream, "events_session_agg", None),
    ],
)
def test_stream_matches_batch_on_boundary_events(
    spark, tmp_path, tmp_path_factory, stream_fn, batch_name, kind
):
    """Stream==batch equality on the ADVERSARIAL event fixture
    (timestamps exactly on window boundaries, one microsecond either
    side, session gaps exactly at the threshold): the streaming
    session/window state machine must agree with the batch plans on the
    same edges the DuckDB oracle gate pins."""
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.test_oracle_fuzz import _nasty_events

    d = tmp_path_factory.mktemp("nasty_events_stream")
    for t in _os.listdir("/root/testdata/sf0.001"):
        if t != "events.parquet":
            _os.symlink(_os.path.join("/root/testdata/sf0.001", t), _os.path.join(str(d), t))
    rows = _nasty_events()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array([r[5] for r in rows], pa.string()),
            }
        ),
        _os.path.join(str(d), "events.parquet"),
    )
    ev = stream_events(spark, str(d))
    out = run_available_now(
        stream_fn(ev), str(tmp_path / "ckpt"), f"qb_{batch_name}_{kind}"
    )
    batch = extensions.QUERIES[batch_name](spark, str(d))
    if kind is not None:
        batch = batch.filter(F.col("kind") == kind).drop("kind")
    assert _sorted_rows(out) == _sorted_rows(batch)


@pytest.mark.slow
def test_stream_plus_incremental_admit_equals_batch_at_10x(spark, tmp_path):
    """VERDICT r03 #6: the production ingest shape at 10x. The stream
    curates at ingest (stateless scoring/filtering + hash-keyed exact
    dedup in the sink); the periodic dedup_incremental pass probes the
    persisted MinHash index for near-dups. Replaying a 10x corpus
    (documents replicated with shifted ids -> 100% exact duplicates)
    through that combination must admit exactly the distinct-text
    survivor set the one-shot batch pipeline (curated_frame: filter ->
    exact dedup -> MinHash near-dup collapse) computes on the same
    corpus."""
    import os

    from ferramenta_etl_spark.pipeline.curation import curated_frame
    from ferramenta_etl_spark.pipeline.dedup_index import dedup_incremental
    from ferramenta_etl_spark.sources import load_table
    from ferramenta_etl_spark.streaming.curation import run_curation_stream
    from tests.conftest import SF_CORRECTNESS

    OFF = 10_000_000_000
    corpus_dir = str(tmp_path / "sf10x")
    os.makedirs(corpus_dir)
    base = load_table(spark, SF_CORRECTNESS, "documents")
    out = base
    for i in range(1, 10):
        out = out.unionByName(base.withColumn("doc_id", F.col("doc_id") + F.lit(i * OFF)))
    # multi-file, like any real ingest directory
    out.repartition(10).write.parquet(f"{corpus_dir}/documents.parquet")

    sink = str(tmp_path / "sink")
    n = run_curation_stream(spark, corpus_dir, sink, str(tmp_path / "ckpt"))
    assert n > 0
    ingested = spark.read.parquet(f"{sink}/curated_stream")
    # arrival order decides WHICH replica's row the hash-keyed sink
    # keeps; the min-id canonical rule needs the replica-invariant
    # logical id, which every replica of a text shares mod OFF
    admitted = dedup_incremental(
        spark,
        ingested.withColumn("doc_id", F.col("doc_id") % OFF),
        str(tmp_path / "ndidx"),
        threshold=0.7,
    )
    stream_hashes = {
        r.h for r in admitted.select(F.md5("text").alias("h")).collect()
    }

    batch_hashes = {
        r.h
        for r in curated_frame(spark, corpus_dir)
        .select(F.md5("text").alias("h"))
        .collect()
    }
    assert stream_hashes == batch_hashes


def test_capped_sessions_batch_operator(spark, sf_dir):
    """operators/sessionize.capped_sessions (the distributed batch
    replay behind the events_capped_sessions oracle row — VERDICT r09
    #6) == the driver-side replay oracle on every session a later event
    CLOSES; its end-of-input semantics then flush exactly one 'timeout'
    session per user (the watermark-passed-everything analog), a
    superset of the stream drain's watermark-gated flushes."""
    from ferramenta_etl_spark.operators.sessionize import capped_sessions
    from ferramenta_etl_spark.sources import load_table

    gap, cap = "12 hours", "24 hours"
    ev = load_table(spark, sf_dir, "events")
    got = capped_sessions(ev, gap=gap, max_duration=cap).toPandas()
    want = capped_sessions_batch_replay(ev, gap=gap, max_duration=cap)

    key = ["user_id", "session_start_ms"]
    gc_got = (
        got[got.closed_by != "timeout"].sort_values(key).reset_index(drop=True)
    )
    gc_want = (
        want[want.closed_by != "timeout"].sort_values(key).reset_index(drop=True)
    )
    assert len(gc_got) == len(gc_want) > 0
    assert (gc_want["closed_by"] == "cap").any()  # cap must actually fire
    for col in [
        "user_id",
        "session_start_ms",
        "session_end_ms",
        "n_events",
        "closed_by",
    ]:
        assert gc_got[col].tolist() == gc_want[col].tolist(), col
    # the operator sums scaled cents (order-independent, oracle-stable);
    # the replay sums raw floats — agree to the rounding budget
    tol = 0.005 * int(got["n_events"].max()) + 1e-9
    assert (gc_got["sum_value"] - gc_want["sum_value"]).abs().max() <= tol

    # end-of-input flush: exactly one timeout session per user, and it
    # covers (is a superset of) the watermark-gated replay flushes
    to = got[got.closed_by == "timeout"]
    n_users = ev.filter(F.col("ts").isNotNull()).select("user_id").distinct().count()
    assert len(to) == n_users
    assert int(to.groupby("user_id").size().max()) == 1
    wto = want[want.closed_by == "timeout"]
    merged = wto.merge(to, on=key, how="left", suffixes=("_w", "_g"))
    assert merged["closed_by_g"].notna().all()


def test_cap_jump_targets_overflow_fallback_matches_fast_path():
    """ADVICE r13: the lane rebase multiplies segment index by a
    span-derived stride — many segments x a wide span silently wraps
    int64 and corrupts every cap jump. The guard must route such inputs
    through the per-segment fallback with identical answers."""
    import numpy as np

    from ferramenta_etl_spark.operators.sessionize import _cap_jump_targets

    rng = np.random.default_rng(7)
    cap = np.int64(1000)
    # 40 segments of 1..8 events each, sorted within segment
    seg_lens = rng.integers(1, 9, size=40)
    seg_starts = np.concatenate(([0], np.cumsum(seg_lens)[:-1])).astype(np.int64)
    seg_ends = np.cumsum(seg_lens).astype(np.int64)
    m = int(seg_ends[-1])
    ms = np.sort(rng.integers(0, 5000, size=m)).astype(np.int64)
    # re-sort within segments (global sort above is fine per segment too)
    for s, e in zip(seg_starts, seg_ends):
        ms[s:e] = np.sort(ms[s:e])
    seg_of_row = np.repeat(np.arange(len(seg_starts)), seg_lens)
    fast = _cap_jump_targets(ms, seg_starts, seg_ends, seg_of_row, cap)

    # widen the span so n_seg * stride overflows int64: shift one event
    # to the far future — stride jumps to ~2^62, 40 segments overflow
    ms2 = ms.copy()
    ms2[-1] = np.int64(2**61)
    seg_big = _cap_jump_targets(ms2, seg_starts, seg_ends, seg_of_row, cap)
    assert int(len(seg_starts)) * (int(ms2.max()) - int(ms2.min()) + int(cap) + 1) > np.iinfo(np.int64).max
    # the shifted event only affects its own (final) segment; every
    # other segment's jumps must be identical to the fast path
    last_s = seg_starts[-1]
    assert (seg_big[:last_s] == fast[:last_s]).all()
    # and the fallback agrees with a brute-force per-event scan
    for i in range(m):
        s, e = seg_starts[seg_of_row[i]], seg_ends[seg_of_row[i]]
        want = e
        for j in range(i, e):
            if ms2[j] > ms2[i] + cap:
                want = j
                break
        assert seg_big[i] == want, i


def test_cap_jump_targets_near_int64_extremes_match_per_segment_scan():
    """ADVICE r14: a stride computed in int64 (span + cap + 1) wraps
    negative once the span nears 2**63 and slipped past the overflow
    guard into the lane rebase; a span past 2**63 did not even fit the
    int64 conversion. Both must take the per-segment fallback, and an
    event within cap of int64 max must not wrap its own jump target."""
    import numpy as np

    from ferramenta_etl_spark.operators.sessionize import _cap_jump_targets

    lo, hi = int(np.iinfo(np.int64).min), int(np.iinfo(np.int64).max)
    cap = 1000
    cases = {
        # span fits int64, span + cap + 1 does not
        "top": [[0, 400, 1200, 1300], [hi - 2500, hi - 1200, hi - 900, hi - 5]],
        # span ~2**64: both extremes
        "both": [[lo, lo + 999, lo + 1001], [-5, 10], [hi - 1000, hi]],
    }
    for label, segs in cases.items():
        ms = np.array([v for seg in segs for v in seg], dtype=np.int64)
        seg_lens = np.array([len(seg) for seg in segs])
        seg_ends = np.cumsum(seg_lens).astype(np.int64)
        seg_starts = seg_ends - seg_lens
        seg_of_row = np.repeat(np.arange(len(segs)), seg_lens)
        got = _cap_jump_targets(ms, seg_starts, seg_ends, seg_of_row, np.int64(cap))
        want = []
        for i in range(len(ms)):
            s, e = int(seg_starts[seg_of_row[i]]), int(seg_ends[seg_of_row[i]])
            want.append(next((j for j in range(i, e) if int(ms[j]) > int(ms[i]) + cap), e))
        assert got.tolist() == want, label


def test_capped_sessions_null_tiebreak_does_not_crash(spark):
    """ADVICE r13: np.lexsort over a raw object-dtype tiebreak column
    raises TypeError when it holds None/mixed types; the pandas
    sort_values path the kernel replaced tolerated them (NaN last). The
    rank-encoded tiebreak must restore that: nulls sort LAST among
    equal timestamps, and the walk completes."""
    import datetime as dt

    from ferramenta_etl_spark.operators.sessionize import capped_sessions

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, None, 1.0),
        (1, t0, "a", 2.0),
        (1, t0 + dt.timedelta(hours=1), "b", 4.0),
        (2, t0, None, 8.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, tag string, value double"
    )
    got = capped_sessions(
        ev, gap="30 minutes", max_duration="2 hours", tiebreak=("tag",)
    ).toPandas()
    # user 1: two sessions (gap split), user 2: one; all rows survive
    assert int(got["n_events"].sum()) == 4
    assert len(got[got.user_id == 1]) == 2
    assert len(got[got.user_id == 2]) == 1


def test_capped_sessions_gap_block_split_identical(spark, sf_dir):
    """The hot-user gap-block path (r13, VERDICT r12 #2) is bit-identical
    to the sequential whole-user walk: any gap > `gap` closes whatever
    session is open — gap close AND cap close both reset state at the
    breaching event — so blocks are independent and only the final open
    session's close reason needs the is-last-block flag. Params chosen so
    all three close reasons fire on the fixture."""
    from ferramenta_etl_spark.operators.sessionize import capped_sessions
    from ferramenta_etl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    gap, cap = "12 hours", "24 hours"
    seq = sorted(map(tuple, capped_sessions(
        ev, gap=gap, max_duration=cap, split_hot_users=False).collect()))
    blk = sorted(map(tuple, capped_sessions(
        ev, gap=gap, max_duration=cap, split_hot_users=True).collect()))
    assert blk == seq and len(seq) > 0
    reasons = {t[-1] for t in seq}
    assert reasons == {"gap", "cap", "timeout"}


def test_capped_sessions_hot_user_auto_routes_and_matches(spark):
    """A 90%-one-user stream: the auto probe must route to the block
    path (threshold trip), the output must equal the sequential walk,
    and the hot user's history must actually decompose into many
    independently-keyed blocks (the scale guarantee: per-task walk is
    bounded by the longest gap-free burst, not by the user's history)."""
    from ferramenta_etl_spark.operators.sessionize import capped_sessions

    rows = []
    # hot user 1: 900 events in bursts of 5 events 10s apart, bursts
    # separated by 120s (> gap of 60s) -> 180 gap blocks
    t0 = 1_700_000_000_000
    t = t0
    for burst in range(180):
        for i in range(5):
            rows.append((1, (t + i * 10_000) // 1000, 1.0))
        t += 4 * 10_000 + 120_000
    # 10 cold users, 10 events each
    for u in range(2, 12):
        for i in range(10):
            rows.append((u, (t0 + i * 10_000) // 1000, 2.0))
    ev = spark.createDataFrame(
        [(u, s, v) for u, s, v in rows], "user_id long, sec long, value double"
    ).select(
        "user_id",
        F.col("sec").cast("timestamp").alias("ts"),
        "value",
    )
    common = dict(gap="1 minute", max_duration="3 minutes")
    seq = sorted(map(tuple, capped_sessions(
        ev, split_hot_users=False, **common).collect()))
    auto = sorted(map(tuple, capped_sessions(
        ev, split_hot_users="auto", hot_user_events=500, **common).collect()))
    assert auto == seq and len(seq) > 0
    # hot user: every 50s burst caps nothing (<3min) but gaps split it:
    # 180 gap sessions... minus the last which times out
    hot = [t for t in seq if t[0] == 1]
    assert len(hot) == 180
    assert {t[-1] for t in hot} == {"gap", "timeout"}


def test_capped_sessions_block_chain_across_buckets(spark):
    """Force a tiny `bucket` so one gap-free run spans MANY buckets: the
    summary prefix-sum must chain each bucket's single block into ONE
    global block (cont=1 ⇒ nblk−cont=0 keeps the id flat), cap closes
    must still fire inside the chained block, and only the true
    end-of-history closes 'timeout'. Pinned against the sequential walk."""
    from ferramenta_etl_spark.operators.sessionize import capped_sessions

    t0 = 1_700_000_000_000
    rows = []
    # user 1: 600 events, 10s cadence — 100 min of gap-free activity.
    # bucket=2min ⇒ ~50 buckets; gap=1min never fires inside the run;
    # cap=7min closes ~14 sessions, each spanning 3-4 buckets.
    for i in range(600):
        rows.append((1, (t0 + i * 10_000) // 1000, 1.0))
    # then a >gap silence and a short second run (gap close + timeout)
    t1 = t0 + 600 * 10_000 + 300_000
    for i in range(5):
        rows.append((1, (t1 + i * 10_000) // 1000, 3.0))
    ev = spark.createDataFrame(
        rows, "user_id long, sec long, value double"
    ).select("user_id", F.col("sec").cast("timestamp").alias("ts"), "value")
    common = dict(gap="1 minute", max_duration="7 minutes")
    seq = sorted(map(tuple, capped_sessions(
        ev, split_hot_users=False, **common).collect()))
    blk = sorted(map(tuple, capped_sessions(
        ev, split_hot_users=True, bucket="2 minutes", **common).collect()))
    assert blk == seq and len(seq) > 0
    reasons = [t[-1] for t in seq]
    assert reasons.count("cap") >= 10
    assert reasons.count("gap") == 1
    assert reasons.count("timeout") == 1


def test_capped_sessions_survives_tiny_arrow_batches(spark, sf_dir):
    """A user's rows can span Arrow batch boundaries inside a partition
    (arrow.maxRecordsPerBatch); the kernel must gather the partition
    before grouping or sessions split at batch edges. Forcing 7-row
    batches must produce the identical session set."""
    from ferramenta_etl_spark.operators.sessionize import capped_sessions
    from ferramenta_etl_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    want = sorted(map(tuple, capped_sessions(ev).collect()))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        got = sorted(map(tuple, capped_sessions(ev).collect()))
    finally:
        spark.conf.set(key, old)
    assert got == want and len(want) > 0
