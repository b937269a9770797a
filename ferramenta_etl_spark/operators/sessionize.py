"""Per-row gap-based sessionization.

Spark's built-in ``session_window`` is an AGGREGATE: it yields one row
per session, so labeling the original events with their session takes a
join back against the window bounds. For feature pipelines that need
the label ON each row (position-in-session, session-relative deltas,
sequence packing by session) the lag+cumsum idiom does it in one
ordered window pass over one hash exchange — no aggregate, no
join-back.

Gap semantics match session_window exactly (the differential test pins
them): an event STRICTLY more than ``gap`` after its predecessor starts
a new session; an event exactly ``gap`` later extends the current one.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .asof import _warn_empty_by


def sessionize(
    df: DataFrame,
    ts_col: str,
    by: Sequence[str],
    gap: float | int,
    session_col: str = "session_idx",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Add ``session_col``: a 1-based session index per ``by`` group,
    ordered by ``ts_col`` (numeric or timestamp — ``gap`` is in the
    column's own units: seconds for timestamps). Rows with NULL
    ``ts_col`` get a NULL session (no position in time = no session),
    mirroring how session_window's groupBy drops them.

    Determinism: the index is well-defined whenever (ts_col, tiebreak)
    is a total order within each group — pass id columns as
    ``tiebreak`` when timestamps can collide. (Equal-timestamp rows
    always land in the SAME session either way — a zero gap can't
    split them — so only downstream order-sensitive features need the
    tiebreak, not the labels themselves.)

    Shape: one hash exchange on ``by``, one per-partition sort, two
    window expressions (lag + running sum) in the same window — the
    same cost as any single window query, linear at any scale.
    ``by=[]`` (one global session stream) is supported but warns: it
    serializes through a single-partition window."""
    by = list(by)
    if not by:
        _warn_empty_by("sessionize")
    ts = F.col(ts_col)
    # timestamps subtract to INTERVAL; cast both sides to epoch seconds
    # so gap arithmetic is plain numeric for either column type
    tnum = (
        ts.cast("double")
        if dict(df.dtypes)[ts_col] not in ("timestamp", "timestamp_ntz")
        else ts.cast("timestamp").cast("double")
    )
    # NULL timestamps sort LAST: sorted first (Spark's asc default)
    # they would sit at the window's head and their prev.isNull()
    # increments would shift every real session index by one per NULL
    # row; last, they only follow the labeled rows and their own labels
    # are NULLed below
    order = [tnum.asc_nulls_last()] + [F.col(c).asc() for c in tiebreak]
    w = Window.partitionBy(*by).orderBy(*order)
    prev = F.lag(tnum).over(w)
    new_session = F.when(
        prev.isNull() | ((tnum - prev) > F.lit(float(gap))), 1
    ).otherwise(0)
    idx = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        session_col, F.when(ts.isNotNull(), idx.cast("long"))
    )


def _cap_jump_targets(ms, seg_starts, seg_ends, seg_of_row, cap_ms):
    """Row index of the first event strictly more than ``cap_ms`` after
    each event, clamped to the event's own gap segment — the vectorized
    heart of the capped walk. Fast path: rebase each segment onto its
    own disjoint int64 lane (segment_index * stride) so ONE global
    searchsorted serves every segment. The lane product can silently
    wrap int64 when (many segments) x (wide time span) — ADVICE r13 —
    so the span and stride are sized in Python ints (an int64 stride
    could itself wrap negative and pass the check), and when the stride
    or n_seg * stride would overflow, fall back to one searchsorted per
    segment: same answers, Python-loop-per-segment cost, only on inputs
    whose span x segment-count is astronomically past any real workload
    (the guard preserves correctness, not speed, there)."""
    import numpy as np

    n_seg = len(seg_starts)
    if n_seg == 0:
        return np.empty(0, dtype=np.int64)
    cap = int(cap_ms)
    stride = int(ms.max()) - int(ms.min()) + cap + 1
    # need max(adj) + cap_ms = (n_seg-1)*stride + span + cap_ms < 2**63;
    # n_seg * stride bounds that sum with margin (stride > span + cap_ms)
    if stride < 2**63 and n_seg * stride < 2**63:
        seg_len = seg_ends - seg_starts
        adj = (ms - np.repeat(ms[seg_starts], seg_len)) + seg_of_row * np.int64(stride)
        return np.searchsorted(adj, adj + cap, side="right")
    # ms + cap_ms would wrap past int64 max: an event that close to the
    # top has nothing strictly above it, so clamping the target to the
    # max gives the same answer (the segment's end)
    top = np.iinfo(np.int64).max - cap
    nxt = np.empty(len(ms), dtype=np.int64)
    for i in range(n_seg):
        s, e = seg_starts[i], seg_ends[i]
        seg = ms[s:e]
        nxt[s:e] = s + np.searchsorted(seg, np.minimum(seg, top) + cap, side="right")
    return nxt


def _lexsort_safe(arr, series):
    """Tiebreak column made np.lexsort-safe (ADVICE r13): numeric/bool
    dtypes pass through (NaN already sorts last); object dtype — where
    None or mixed types raise TypeError inside lexsort — is replaced by
    dense ascending rank codes with nulls LAST, the same order the
    pre-vectorization pandas sort_values walk gave them. Mixed
    incomparable types fall back to ranking the string form: an
    arbitrary but deterministic total order for data that never had a
    meaningful one."""
    import numpy as np

    if arr.dtype != object:
        return arr
    try:
        r = series.rank(method="dense", na_option="bottom")
    except TypeError:
        r = series.astype(str).where(series.notna()).rank(
            method="dense", na_option="bottom"
        )
    return r.to_numpy(np.float64)


def capped_sessions(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    gap: str = "30 minutes",
    max_duration: str = "2 hours",
    tiebreak: Sequence[str] = (),
    split_hot_users: bool | str = False,
    hot_user_events: int = 1_000_000,
    bucket: str = "1 day",
) -> DataFrame:
    """Batch replay of ``streaming.capped_sessions_stream``: per-user
    sessions that close on ``gap`` inactivity OR when the next event
    would land more than ``max_duration`` after the session start (the
    breaching event starts the next session); the final open session
    per user closes with ``closed_by='timeout'`` — exactly what the
    streaming operator emits once the watermark passes end-of-input.

    The cap makes this genuinely iterative (where one session ends
    determines where the next begins — see streaming/stateful.py), so
    no window expression can produce it. Batch shape: ONE hash exchange
    on ``user_col`` (``repartition``) + an Arrow-batched
    ``mapInPandas`` kernel, fully VECTORIZED over the partition (r13 —
    see make_walker): one lexsort, one diff for gap segments, one
    global searchsorted for every cap jump, sessions emitted in
    frontier rounds — no per-group pandas loop, no per-session Python
    appends (with cap-heavy parameters sessions ~ events, so those
    loops were the kernel's whole cost). mapInPandas over partitions
    rather than ``applyInPandas`` per group deliberately: event
    sessions mean MANY TINY groups, and per-group Arrow round-trips
    dominated the per-partition form 2x (1.04 s vs 0.60 s on the sf0.1
    fixture's 1.5k users). The kernel must gather ALL the partition's
    Arrow batches before grouping — a user's rows can span batch
    boundaries (arrow.maxRecordsPerBatch) — so per-task memory is one
    partition's events: size ``spark.sql.shuffle.partitions`` to the
    cluster as with any shuffle. The timestamp crosses the Python
    boundary pre-converted to int64 epoch-ms (functions.tsql.epoch_ms,
    the same truncation the split path and the oracle use).

    HOT-USER GUARD (r13, VERDICT r12 #2): hashing by ``user_col`` alone
    funnels a pathological user (bot traffic — 90 % of a day's events
    under one id) through ONE task. But any inter-event gap > ``gap``
    is an UNCONDITIONAL session boundary — both the gap close and the
    cap close reset state AT the breaching event — so a user's timeline
    decomposes at gap boundaries into independent "gap blocks" whose
    walks never interact. The split path labels those blocks WITHOUT
    ever sorting one user's whole history in one task (a plain window
    over ``user_col`` would — the same hot-key funnel, moved from the
    walk to the sort): (1) a lag+cumsum window over ``(user,
    time-bucket)`` — ``bucket`` wide, floored at max(gap, cap) — gives
    per-bucket LOCAL block ids, with partitions bounded by arrival rate
    x bucket, never by a user's total history; (2) the bucket SUMMARY
    (one row per active user-bucket — metadata scale) chains local ids
    into global ones with a per-user prefix sum, merging a bucket's
    first block into the previous bucket's last when the boundary
    interval is <= ``gap``; (3) the walk re-keys by ``(user, global
    block)`` and closes each block's final open session with ``'gap'``
    unless it is the user's LAST block (then ``'timeout'``) —
    bit-identical output to the sequential walk, pinned by
    ``tests/test_streaming.py``. Cost: one summary aggregation + a
    co-keyed join back. ``split_hot_users='auto'`` probes
    ``max(events per user)`` first (a map-side-combined count, cheap
    relative to the walk) and routes: below ``hot_user_events`` the
    original single-exchange plan runs; above it the block plan does.
    CAVEAT: the auto probe is an EAGER Spark job at plan-CONSTRUCTION
    time — it breaks the engine's plans-build-job-free contract
    (tests/test_plans.py) and re-scans the input once per plan build,
    which is why the DEFAULT is False (the single-exchange plan) and
    auto is opt-in for callers who don't know their skew and are
    building the plan once to execute it once. Callers who DO know
    (a bot-heavy clickstream) pass True. Residual bound, documented not
    hidden: a single block can still be long — a bot pinging faster
    than ``gap`` forever never splits — so the per-task walk is bounded
    by the longest gap-free BURST, not by the user's history; see
    SCALING.md "hot-user sessionization" for the 90 %-one-user probe.

    ``sum_value`` uses the scaled-cents discipline of
    ``functions.tsql.sum2`` (floor(v*100+0.5) accumulated as ints,
    /100 at close): order-independent and drift-free, so the result is
    a pure function of the data, not of partitioning — and a DuckDB
    recursive-CTE oracle can hash-match it. Non-finite values
    contribute 0 (the NULL-sum convention), mirroring the
    ``events_session_agg`` oracle's isfinite guard.

    Rows with NULL ``ts_col`` are dropped (no position in time = no
    session, the ``sessionize`` policy). Equal timestamps within a user
    need ``tiebreak`` columns for a deterministic walk order.
    """
    from ..functions.tsql import epoch_ms
    from ..streaming.stateful import SESSION_SCHEMA, _duration_ms

    gap_ms = _duration_ms(gap)
    cap_ms = _duration_ms(max_duration)
    out_cols = [f.name for f in SESSION_SCHEMA.fields]

    base = df.filter(F.col(ts_col).isNotNull()).select(
        user_col, ts_col, value_col, *tiebreak
    )

    if split_hot_users == "auto":
        hottest = (
            base.groupBy(user_col).count().agg(F.max("count")).first()[0]
        )
        split = bool(hottest and hottest > hot_user_events)
    else:
        split = bool(split_hot_users)

    def make_walker(group_keys, final_flag_col=None):
        """One shared mapInPandas kernel for both paths; they differ
        ONLY in the grouping key and how the final open session's close
        reason is chosen (no flag column -> the group's last session
        closes 'timeout'; with ``final_flag_col`` -> 'timeout' iff any
        row of the group carries the flag, else 'gap' — the split
        path's is-this-the-user's-last-block marker). Gather the WHOLE
        partition before grouping: a group's rows can span Arrow batch
        boundaries, and a per-batch walk would split sessions (the
        streaming kernel's gather-then-sort discipline).

        FULLY VECTORIZED over the partition (r13): the former kernel
        looped pandas groupby -> per-group sort -> per-SESSION Python
        appends, and with cap-heavy parameters sessions ~ events (the
        bench shape emits 338k sessions from 400k events), so the
        Python-level iteration count was ~rows. This kernel never
        loops rows OR sessions-per-group: one partition-wide lexsort,
        gap segments from one diff, and ONE global vectorized
        searchsorted giving every event's cap-jump target — each
        segment's timestamps are rebased onto disjoint int64 lanes
        (segment_index x a span-exceeding stride) so a single sorted
        array serves every segment's searches without crossing
        segments. Sessions are then emitted in FRONTIER ROUNDS: round
        k closes every segment's k-th session at once, so Python-level
        iterations = max sessions per segment in the partition, and
        total numpy work stays linear in sessions. Output columns are
        built directly from index arrays — no per-session dicts."""
        import numpy as np
        import pandas as pd

        gcols = [group_keys] if isinstance(group_keys, str) else list(group_keys)

        def walk(batches):
            chunks = [p for p in batches if len(p)]
            if not chunks:
                yield pd.DataFrame(columns=out_cols)
                return
            pdf = pd.concat(chunks, ignore_index=True)
            m = len(pdf)
            # null-safe group codes (factorize keys NaN like any value)
            codes = None
            for gcol in gcols:
                c, _ = pd.factorize(pdf[gcol], use_na_sentinel=False)
                codes = (
                    c.astype(np.int64)
                    if codes is None
                    else codes * np.int64(int(c.max()) + 1) + c
                )
            ms_raw = pdf["__ms"].to_numpy(np.int64)
            tb_arrays = tuple(
                _lexsort_safe(pdf[c].to_numpy(), pdf[c])
                for c in reversed(list(tiebreak))
            )
            order = np.lexsort(tb_arrays + (ms_raw, codes))
            codes = codes[order]
            ms = ms_raw[order]
            vals = pdf[value_col].to_numpy(np.float64)[order]
            users = pdf[user_col].to_numpy()[order]
            # scaled-cents discipline (functions.tsql.sum2): floor(v*100
            # + 0.5) as int64, non-finite -> 0; cumsum gives O(1)
            # per-session sums
            cents = np.where(
                np.isfinite(vals), np.floor(vals * 100.0 + 0.5), 0.0
            ).astype(np.int64)
            ccents = np.concatenate(([0], np.cumsum(cents)))

            new_grp = np.empty(m, dtype=bool)
            new_grp[0] = True
            new_grp[1:] = codes[1:] != codes[:-1]
            new_seg = new_grp.copy()
            new_seg[1:] |= (ms[1:] - ms[:-1]) > gap_ms
            seg_starts = np.flatnonzero(new_seg)
            n_seg = len(seg_starts)
            seg_ends = np.concatenate((seg_starts[1:], [m]))
            seg_len = seg_ends - seg_starts
            seg_of_row = np.repeat(np.arange(n_seg), seg_len)
            # lane-rebased global searchsorted, with the int64-overflow
            # per-segment fallback (ADVICE r13) — see _cap_jump_targets
            nxt = _cap_jump_targets(ms, seg_starts, seg_ends, seg_of_row, cap_ms)

            # close reason of each segment's FINAL session: 'gap' unless
            # it is the group's last segment, then timeout/gap by flag
            grp_of_seg = codes[seg_starts]
            last_seg = np.empty(n_seg, dtype=bool)
            last_seg[-1] = True
            last_seg[:-1] = grp_of_seg[:-1] != grp_of_seg[1:]
            if final_flag_col is None:
                grp_timeout = np.ones(n_seg, dtype=bool)
            else:
                flags = pdf[final_flag_col].to_numpy()[order].astype(bool)
                grp_starts = np.flatnonzero(new_grp)
                per_grp = np.maximum.reduceat(flags, grp_starts)
                grp_timeout = per_grp[np.cumsum(new_grp)[seg_starts] - 1]
            # reason codes: 0=cap, 1=gap, 2=timeout
            seg_final_rc = np.where(last_seg & grp_timeout, 2, 1)

            s_parts, e_parts, rc_parts = [], [], []
            active = seg_starts
            act_seg = np.arange(n_seg)
            while active.size:
                j = nxt[active]
                se = seg_ends[act_seg]
                done = j >= se
                j = np.minimum(j, se)
                s_parts.append(active)
                e_parts.append(j)
                rc_parts.append(np.where(done, seg_final_rc[act_seg], 0))
                active = j[~done]
                act_seg = act_seg[~done]
            s = np.concatenate(s_parts)
            e = np.concatenate(e_parts)
            rc = np.concatenate(rc_parts)
            reasons = np.array(["cap", "gap", "timeout"], dtype=object)[rc]
            yield pd.DataFrame(
                {
                    "user_id": users[s],
                    "session_start_ms": ms[s],
                    "session_end_ms": ms[e - 1],
                    "n_events": e - s,
                    "sum_value": (ccents[e] - ccents[s]) / 100.0,
                    "closed_by": reasons,
                },
                columns=out_cols,
            )

        return walk

    if not split:
        # __ms computed JVM-side: the Python boundary then moves a plain
        # int64 instead of a timestamp (no per-row datetime conversion
        # in the kernel), and only the columns the walk needs cross
        return (
            base.withColumn("__ms", epoch_ms(ts_col))
            .select(user_col, "__ms", value_col, *tiebreak)
            .repartition(user_col)
            .mapInPandas(make_walker(user_col), schema=SESSION_SCHEMA)
        )

    # --- gap-block split path -------------------------------------------
    # Assign every event a globally-consistent gap-block id WITHOUT ever
    # sorting one user's whole history in one task (the window-over-user
    # form would — same hot-key funnel, just moved from the walk to the
    # sort). Two levels:
    #   1. window over (user, time-bucket): per-bucket local blocks via
    #      lag+cumsum — partitions bounded by events-per-user-per-bucket
    #      (arrival rate x bucket), never by a user's total history;
    #   2. the BUCKET SUMMARY (one row per active user-bucket — metadata
    #      scale) gets a per-user window that decides, from adjacent
    #      min/max timestamps, whether a bucket's first block continues
    #      the previous bucket's last block (C_b), and a prefix sum
    #      turns local ids into global ones:
    #          global = start_b + local − C_b,
    #          start_b = Σ_{b'<b} (n_blocks_b' − C_b').
    #      (C_b=1 makes bucket b's first block alias the previous
    #      bucket's last — one chained id across the boundary.)
    # The summary joins back on (user, bucket) — co-keyed with the pass-1
    # shuffle — and the walk re-keys by (user, global block).
    bucket_ms = max(_duration_ms(bucket), gap_ms, cap_ms)
    ms = epoch_ms(ts_col)
    ev = base.withColumn("_ms", ms).withColumn(
        "_bkt", (F.col("_ms") / F.lit(bucket_ms)).cast("long")
    )
    w1 = Window.partitionBy(user_col, "_bkt").orderBy(
        F.col("_ms").asc(), *[F.col(c).asc() for c in tiebreak]
    )
    prev = F.lag("_ms").over(w1)
    local_blk = F.sum(
        F.when(prev.isNull() | ((F.col("_ms") - prev) > F.lit(gap_ms)), 1)
        .otherwise(0)
    ).over(w1.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    labeled = ev.withColumn("_lblk", local_blk)

    summary = labeled.groupBy(user_col, "_bkt").agg(
        F.min("_ms").alias("_first_ms"),
        F.max("_ms").alias("_last_ms"),
        F.max("_lblk").alias("_nblk"),
    )
    w2 = Window.partitionBy(user_col).orderBy(F.col("_bkt").asc())
    cont = F.when(
        (F.col("_first_ms") - F.lag("_last_ms").over(w2)) <= F.lit(gap_ms), 1
    ).otherwise(0)
    summary = summary.withColumn("_cont", cont).withColumn(
        "_start",
        F.coalesce(
            F.sum(F.col("_nblk") - F.col("_cont")).over(
                w2.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).withColumn("_last_bkt", F.lead("_bkt").over(w2).isNull())

    # null-safe on the user key: NULL user_id is a legal group for the
    # sequential path's dropna=False groupby, so the summary join must
    # not drop it
    joined = labeled.alias("e").join(
        summary.select(
            F.col(user_col).alias("_s_user"),
            F.col("_bkt").alias("_s_bkt"),
            "_cont",
            "_start",
            "_nblk",
            "_last_bkt",
        ),
        on=(
            F.col(f"e.{user_col}").eqNullSafe(F.col("_s_user"))
            & (F.col("e._bkt") == F.col("_s_bkt"))
        ),
        how="inner",
    ).withColumn(
        "_gblk", F.col("_start") + F.col("_lblk") - F.col("_cont")
    ).withColumn(
        "_final", F.col("_last_bkt") & (F.col("_lblk") == F.col("_nblk"))
    ).select(
        f"e.{user_col}",
        F.col("e._ms").alias("__ms"),
        value_col,
        *tiebreak,
        "_gblk",
        "_final",
    )

    return joined.repartition(user_col, "_gblk").mapInPandas(
        make_walker([user_col, "_gblk"], final_flag_col="_final"),
        schema=SESSION_SCHEMA,
    )
