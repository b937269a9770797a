"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
COMPACT JSON line to stdout: {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: median_sec}, "sf": ..., "noisy": bool}.

Everything else — per-query interquartile spread, adaptive run counts,
and the environment block (foreign-JVM scans, load average, per-query
noisy flags) — goes to BENCH_DETAIL.json next to this file (VERDICT r07
#1: the r07 stdout line outgrew the driver's tail capture and BENCH_r07
recorded parsed:null, silently dropping the headline total). stdout stays
small enough to survive any tail capture; the detail file is committed so
the self-identifying-noise contract from rounds 4-7 is unchanged, just
relocated. The one noise bit that must ride on stdout is `noisy`: true
whenever a foreign JVM was present before/after the run or any query's
reported median sits more than 25% of itself AND 0.3 s above its
first-quartile run (a single outlier in either direction cannot trip it,
and sub-second queries always jitter ~0.1 s). A ±30% round-over-round
swing on an unchanged plan can then be read off BENCH_DETAIL.json (its
own spread / a dirty env) instead of needing forensics against
SCALING.md.

Timing = full pipeline per query: plan lookup + execution to a
count-style sink (foreach-noop via ``df.write.format('noop')``), which
forces every operator without collecting rows to the driver. Plans are
built once per (session, dataset) and cached by the query registry
(plans/_registry.py) — the engine's prepared-statement analog — so the
warm runs measure execution, not py4j plan-reconstruction chatter. A
GLOBAL warm-up pass first runs EVERY headline query once — this compiles
each plan's whole-stage codegen AND brings the JVM itself to steady
state (C2 JIT of the shuffle/sort/scan infrastructure takes several
seconds of JVM life; before round 4's global pass, whichever query ran
FIRST absorbed that as a phantom +15-25% — the flagship, every round).
Then each query gets an ADAPTIVE number of timed runs — 3 for
multi-second queries, 7 under 2.5 s, 9 under 0.3 s (the cheaper the
query, the more its ~0.1 s absolute jitter dominates a 3-run median;
per-query counts land in env.runs_per_query) — and the MEDIAN is
reported. Per-query noise is reported BOTH relative (spread_pct) and
absolute (spread_abs_s). Warm single-run variance on local[32] is
~±15% (GC pauses, task-scheduling jitter); the median keeps
round-over-round comparisons about the plans, not the noise.

STABILITY ADJUDICATION POLICY (VERDICT r08 #3 — the committed rule,
emitted per query in the detail file's `stability` map): a headline
query PASSES stability iff

    spread_pct < 20  OR  spread_abs_s <= 0.15

Either bar suffices. A query that FAILS the policy is re-measured from
scratch up to MAX_ATTEMPTS times (VERDICT r09 #2: the r09 artifact
self-flagged noisy with four stability-FAIL rows from a co-tenant
burst, which made the round's regression comparison unadjudicable);
the first PASSING attempt is reported, attempt counts land in
env.attempts_per_query, and a query failing every attempt keeps its
FAIL verdict — the artifact self-identifies, it never launders.
Rationale for the two bars: the ~0.1 s GC/task-scheduling jitter
floor measured on local[32] (SCALING.md "jitter floor" note) makes
spread_pct mechanically large for sub-second queries — a 0.4 s query
with a 0.1 s IQR reads 25% while being exactly as stable as the box
allows — so the relative bar adjudicates multi-second queries and the
absolute bar (0.15 s, the measured floor plus margin) adjudicates the
sub-second ones. A query failing BOTH bars is genuinely unstable:
its round-over-round delta cannot be attributed to a plan change.

MEASUREMENT PROTOCOL (for comparable round-over-round numbers): run with
NO concurrent JVMs on the box (a parallel pytest session steals cores
and inflates every number ~15-25% — the source of round 3's phantom
flagship "regression" on an unchanged plan), default SPARK_GRAFT_CPUS=32,
and read the MEDIAN (already what this prints). Plans are cached
(prepared-statement analog), so one-time costs — codegen, parquet
footers, the IVF centroid derivation, the bucketed-mirror writes — land
in plan build + warm-up, outside the timed runs, exactly where a
production engine pays them.

Two deliberate variant pairs in the headline set:
- dedup_minhash_lsh / dedup_simhash run portable=True (md5-prefix hash
  family) — the ORACLE-CHECKABLE variants, paying a documented hashing
  tax; dedup_minhash_fast is the library-DEFAULT (xxhash64) production
  path, benched so the gate variant can't mask the real engine's trend
  (VERDICT r03 #2). SimHash's *_fast twin was retired from the headline
  set in round 8: measured stage-wise, its hash step is off the
  critical path (see HEADLINE comment + SCALING.md).
- flagship / flagship_bucketed: same plan over plain parquet vs
  bucketed orderkey mirrors (write-once shuffle amortized across every
  downstream orderkey join — plans/bucketed.py; VERDICT r03 #4).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the flagship plus the most load-bearing operators.
HEADLINE = [
    "flagship",
    "flagship_bucketed",
    # r13 (VERDICT r12 #6): flagship over the date-partitioned orders
    # mirror — times the statically-pruned scan (PartitionFilters on
    # o_month; mirror written at plan build, amortized like the rest)
    "flagship_partitioned",
    "group_agg",
    "latest_per_key",
    "inner_join_chain",
    "topk_per_group",
    "window_functions",
    "asof_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_fast",
    # dedup_simhash_fast dropped from the headline set (VERDICT r07 #7):
    # stage-wise measurement (SCALING.md round-8) shows the hash step is
    # only ~0.10 s of the ~0.7 s sf0.1 pipeline — xxhash64 IS 3.5x
    # faster at hashing, but the 64-vote groupBy + block-join dominate,
    # so the pair's bench delta (~0.13 s) sits at the jitter floor and
    # the slot measured noise. The registry entry stays for ad-hoc use;
    # minhash keeps its *_fast slot because there the hash family is ~38%
    # of wall (0.77 vs 0.48 s) and the pair resolves cleanly.
    "dedup_simhash",
    "embedding_cosine_topk",
    "embedding_cosine_arrow",  # new round 8: BLAS twin of the SQL fold
    "embedding_ann_ivf",
    "text_quality_score",
    "text_decontaminate",
    "text_chunking",
    "events_session_agg",
    "curation",
    "seq_packing",
    "embedding_quantized_topk",
    "embedding_ann_lsh",
    "embedding_truncated_topk",  # new round 8: Matryoshka-style serve
    # new round 9: the lexical/selection layer. All three follow the
    # train-once-artifact convention: index build / model fit / merge
    # learning happen at plan-build time (amortized, like the IVF
    # centroids and bucketed mirrors); timed runs measure the RECURRING
    # cost — BM25 serving, full-corpus DSIR scoring, corpus
    # tokenization.
    "bm25_topk",
    "dsir_score",
    "bpe_tokenize",
    # new round 10: the gap+cap batch sessionizer (applyInPandas walk,
    # one user_id exchange) and the real baseline-JPEG decoder (narrow
    # mapInPandas codec map; fixture encode at plan build). Both are
    # the round's new operators given a perf surface, per the r9
    # pattern of benching each round's additions.
    "events_capped_sessions",
    "media_decode_jpeg",
    # new round 11: the continuous-aggregate SERVE path (materialized ∪
    # live tail — the oracle-gated events_rollup_serve registry row;
    # mat write at plan build via the registry plan cache, timed runs
    # measure serve) and the MP4 box-tree metadata probe (ffprobe
    # analog, header-bytes narrow map over a 10x container spine)
    "events_rollup_serve",
    "media_probe_mp4",
    # new round 12: the cascade (15m->1h->1d computed from the FINE
    # windows table, never raw events — oracle-gated registry row;
    # materializations at plan build, timed runs measure the two
    # windows-table aggregations + union serve) and the keyframe-
    # aligned frame-sampling plan from real stts/stss tables (narrow
    # header-parse map over the 10x MP4 spine)
    "events_rollup_cascade",
    "media_frame_schedule",
    # replicate=20, 90% hot key (the 12M-row null-key pathology): the
    # scale where salting beats the AQE-assisted plain join DECISIVELY
    # (1.59x, runs don't overlap), so the regression guard points the
    # right way — at replicate=1 the fixture is too small and the
    # salted arm's extra exchange dominates; at the 33%-hot
    # replicate=10 shape the margin sat inside run noise and the sign
    # flipped between healthy runs (VERDICT r05 #2 / r06 #3); renamed
    # from join_skewed_{plain,salted} so round-over-round comparisons
    # never mix parameterizations
    "join_skewed_plain_x20",
    "join_skewed_salted_x20",
]


# Committed stability policy (module docstring): pass iff EITHER bar.
STABILITY_SPREAD_PCT = 20.0
STABILITY_SPREAD_ABS_S = 0.15
# Retry-until-stable cap (VERDICT r09 #2): a query failing the policy is
# re-measured with a fresh run set up to this many times before the FAIL
# verdict is accepted as real. 3 keeps the worst case bounded (~3x one
# query's wall) while absorbing the single-burst noise that produced the
# r09 artifact's four FAIL rows.
MAX_ATTEMPTS = 3


def _round_number(repo_dir: str) -> int:
    """Current build round, for the per-round detail artifact
    (BENCH_DETAIL_r0N.json — VERDICT r08 #3: one mutable file the
    driver overwrites loses the ability to diff detail across rounds).
    $SPARK_GRAFT_ROUND overrides; otherwise 1 + the highest committed
    BENCH_r{N}.json (the driver writes that file AFTER this runs, so
    during round N the highest on disk is N-1)."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    import re

    ns = [
        int(m.group(1))
        for f in os.listdir(repo_dir)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
    ]
    return (max(ns) + 1) if ns else 1


def _fixture_digest(sf_dir: str) -> str:
    """Content hash of the dataset the numbers were measured on
    (VERDICT r11 #1). SCALING.md's round-10 decomposition proved the
    r8->r10 "perf creep" was mostly a REGENERATED fixture plus machine
    drift (~2x on untouched plans) — two rounds of attention spent
    adjudicating noise that one digest line would have dismissed.
    Streaming blake2b over every parquet file (sorted relative path +
    size + bytes); sf0.1 is ~17 MB, so this costs milliseconds. The
    first 16 hex chars ride in BOTH the stdout line (-> BENCH_r{N}.json)
    and the detail artifact; round-over-round ratios are meaningful ONLY
    between artifacts sharing a digest — the drift note below enforces
    that mechanically."""
    import hashlib

    h = hashlib.blake2b(digest_size=16)
    for root, dirs, files in sorted(os.walk(sf_dir)):
        dirs.sort()
        for name in sorted(files):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, sf_dir)
            h.update(rel.encode())
            h.update(str(os.path.getsize(path)).encode())
            with open(path, "rb") as fh:
                while chunk := fh.read(1 << 20):
                    h.update(chunk)
    return h.hexdigest()[:16]


def _drift_vs_prev(repo_dir: str, rnd: int, digest: str, sf_val,
                   timings: dict) -> dict:
    """Round-over-round drift note for the detail artifact — REFUSES the
    comparison unless the previous round's detail artifact carries the
    SAME fixture digest and scale factor (the protocol's answer to
    VERDICT r11 #1: cross-digest ratios measure fixture regeneration,
    not code, and must not be read as plan drift)."""
    import re

    prev_rounds = sorted(
        int(m.group(1))
        for f in os.listdir(repo_dir)
        if (m := re.fullmatch(r"BENCH_DETAIL_r(\d+)\.json", f))
        and int(m.group(1)) < rnd
    )
    if not prev_rounds:
        return {"comparable": False, "reason": "no prior detail artifact"}
    prev_r = prev_rounds[-1]
    with open(os.path.join(repo_dir, f"BENCH_DETAIL_r{prev_r:02d}.json")) as fh:
        prev = json.load(fh)
    prev_digest = prev.get("fixture_digest")
    if prev_digest is None:
        return {
            "comparable": False,
            "vs_round": prev_r,
            "reason": "prior artifact predates fixture digests (pre-r12); "
                      "ratios vs it conflate fixture drift with code",
        }
    if prev_digest != digest or prev.get("sf") != sf_val:
        return {
            "comparable": False,
            "vs_round": prev_r,
            "reason": f"fixture digest/sf mismatch (prev {prev_digest}/"
                      f"{prev.get('sf')}, now {digest}/{sf_val}) — the "
                      "dataset changed; ratios would measure the fixture",
        }
    common = sorted(set(timings) & set(prev.get("queries", {})))
    ratios = {
        n: round(timings[n] / prev["queries"][n], 3)
        for n in common
        if prev["queries"][n] > 0
    }
    return {
        "comparable": True,
        "vs_round": prev_r,
        "per_query_ratio": ratios,
        "total_ratio": round(
            sum(timings[n] for n in common)
            / sum(prev["queries"][n] for n in common),
            3,
        ) if common else None,
    }


def _foreign_jvm_pids() -> list[int]:
    """PIDs of java processes NOT descended from this bench process.
    A concurrent Spark JVM (parallel pytest session, another bench)
    steals cores and inflates every number ~15-25%; BENCH_r04's ±20-40%
    swings on unchanged plans were unreadable precisely because the
    artifact couldn't say whether the box was quiet. Scanned before the
    session exists (no children yet) and again after the timed runs
    (anything new that is not our own child JVM arrived mid-run)."""
    me = os.getpid()

    def _ppid(pid: int) -> int:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])

    def _descends_from_me(pid: int) -> bool:
        # Walk the ancestor chain to init: a JVM launched through a
        # non-exec'ing wrapper (distro java shims) is our grandchild,
        # not our child — requiring direct parentage would count our
        # own driver JVM as foreign and permanently flag env.noisy.
        seen = set()
        while pid > 1 and pid not in seen:
            seen.add(pid)
            if pid == me:
                return True
            try:
                pid = _ppid(pid)
            except (OSError, IndexError, ValueError):
                return False  # ancestor exited mid-walk; can't claim it
        return pid == me

    def _scan() -> list[int]:
        pids = []
        for entry in os.listdir("/proc"):
            if not entry.isdigit() or int(entry) == me:
                continue
            try:
                with open(f"/proc/{entry}/cmdline", "rb") as fh:
                    argv0 = fh.read().split(b"\0", 1)[0]
            except OSError:
                continue  # process exited mid-scan
            if os.path.basename(argv0).startswith(b"java") and not _descends_from_me(
                int(entry)
            ):
                pids.append(int(entry))
        return pids

    pids = _scan()
    if pids:
        # Re-scan once before flagging (ADVICE r06): a JVM whose
        # ancestor exited MID-WALK reads as foreign for one scan only —
        # a transient race, not a dirty box. Only PIDs foreign in BOTH
        # scans count; a short-lived java helper that exited in between
        # also stops (correctly) counting against the run.
        time.sleep(0.5)
        pids = sorted(set(pids) & set(_scan()))
    return pids


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    jvms_start = _foreign_jvm_pids()
    loadavg_start = round(os.getloadavg()[0], 2)

    from ferramenta_etl_spark.session import get_session

    spark = get_session("ferramenta-bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = dict(entry_mod.queries())

    # Bench-only composites (curation, seq_packing, quantized/LSH top-k,
    # the *_fast hash-family pair, flagship_bucketed) come from
    # plans/composites.py, with the registry's plan cache (plans build
    # once per (session, dataset); curation's persist()/checkpoint
    # intermediates stay stable across timed runs).
    from ferramenta_etl_spark.plans.composites import add_bench_composites

    add_bench_composites(queries)
    names = [n for n in HEADLINE if n in queries]
    missing = [n for n in HEADLINE if n not in queries]
    if missing:
        # stderr: stdout must stay exactly one JSON line. A silently
        # shrunken headline set would read as a round-over-round speedup.
        print(f"WARNING: headline queries missing from registry: {missing}",
              file=sys.stderr)

    # global warm-up pass: per-plan codegen + parquet footer first-touch
    # for every query, and JVM C2 steady state before ANY timing starts
    # (ordering-independent numbers; see module docstring)
    for name in names:
        queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    def _measure(name: str) -> dict:
        """One measurement attempt: adaptive-count timed runs + the
        order statistics the stability policy adjudicates on."""
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        # ADAPTIVE run count (VERDICT r05 #4 / r06 #2, widened r07 #6):
        # sub-second queries jitter ~0.1 s regardless of size, so a
        # 3-run median can't tell a 30% regression from noise exactly
        # where 30% is smallest in absolute terms — and the 1-2.5 s band
        # (flagship) is where r06/r07's unexplained ±30-50% swings
        # lived. <1.0 s -> 9 runs, <2.5 s -> 7 runs; only the few
        # multi-second queries stay at 3, so the extra wall cost stays
        # bounded by the queries being cheap. (The 9-run band widened
        # from 0.3 to 1.0 s after the r08 driver run read 25-28% IQR on
        # the 0.5-0.7 s dedup queries — above the documented 20% bar
        # exactly where the bar starts to mean something; at n=9 the
        # IQR spans the middle 5 runs, a steadier estimate for the same
        # ~0.1 s jitter, and the extra wall cost is ~2 s total.)
        med3 = sorted(runs)[1]
        target = 9 if med3 < 1.0 else (7 if med3 < 2.5 else 3)
        while len(runs) < target:
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        ordered = sorted(runs)
        n = len(ordered)
        median = ordered[n // 2]
        # INTERQUARTILE range around the median, in % — a per-query
        # noise gauge: an unchanged plan whose official number moved
        # round-over-round by less than its own spread moved by NOISE.
        # The full min-max range (used through r06) grows mechanically
        # with run count — one GC-pause outlier in 7 runs read as 100%+
        # "noise" on a perfectly stable median; the IQR estimates the
        # MEDIAN's stability, which is what the artifact reports. (At
        # n=3 the IQR degenerates to the full range — same statistic as
        # previous rounds.)
        q1, q3 = ordered[n // 4], ordered[(3 * n) // 4]
        return {
            "median": median,
            "spread_pct": round(100.0 * (q3 - q1) / median, 1),
            # ABSOLUTE IQR too (VERDICT r07 #6): on local[32] every query
            # carries an irreducible ~0.1 s of GC/task-scheduling jitter,
            # so spread_pct has a mechanical FLOOR of ~(0.1 / median) — a
            # 0.15 s query reading 40% spread is a 60 ms IQR, i.e. a
            # stable query on a healthy box, not noise. Read spread_abs_s
            # against the 0.1 s floor for sub-0.5 s queries; spread_pct
            # < 20% is a meaningful bar only at medians >= ~0.5 s.
            "spread_abs_s": round(q3 - q1, 3),
            # the noisy-query gauge compares the median against q1, not
            # the absolute minimum: with 5-7 runs a single fast outlier
            # would otherwise widen (median - min) and flag a stable
            # median noisy
            "q1": q1,
            "n_runs": len(runs),
        }

    def _stable(m: dict) -> bool:
        return (
            m["spread_pct"] < STABILITY_SPREAD_PCT
            or m["spread_abs_s"] <= STABILITY_SPREAD_ABS_S
        )

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    spreads_abs: dict[str, float] = {}
    mins: dict[str, float] = {}
    run_counts: dict[str, int] = {}
    attempts_per_query: dict[str, int] = {}
    for name in names:
        # RETRY-UNTIL-STABLE (VERDICT r09 #2): a query whose first
        # measurement fails the committed stability policy gets up to
        # MAX_ATTEMPTS fresh measurement sets — a transient co-tenant
        # burst (GC storm, scheduler hiccup, foreign process) should
        # cost one retry, not the round's adjudicability. The FIRST
        # PASSING attempt is reported (no shopping for the fastest
        # number: the median still comes from one untampered run set);
        # if none passes, the attempt with the smallest absolute IQR is
        # reported and the query keeps its stability FAIL — the artifact
        # must self-identify, not launder. Attempt counts land in
        # env.attempts_per_query so the detail file shows exactly how
        # hard each number was to obtain.
        attempts = [_measure(name)]
        while not _stable(attempts[-1]) and len(attempts) < MAX_ATTEMPTS:
            attempts.append(_measure(name))
        m = next(
            (a for a in attempts if _stable(a)),
            min(attempts, key=lambda a: a["spread_abs_s"]),
        )
        timings[name] = round(m["median"], 3)
        spreads[name] = m["spread_pct"]
        spreads_abs[name] = m["spread_abs_s"]
        mins[name] = m["q1"]
        run_counts[name] = m["n_runs"]
        attempts_per_query[name] = len(attempts)

    # SUB-TIMERS for merged rows (VERDICT r12 #7): group_agg times three
    # former queries in one number; time each arm standalone (warm-up +
    # 5 runs, median) so drift on the merged row names its arm. Detail-
    # artifact only — the headline row stays the merged plan.
    from ferramenta_etl_spark.plans.relational import group_agg_arms

    subtimers: dict[str, dict[str, float]] = {}
    arms = group_agg_arms(spark, sf_dir)
    subtimers["group_agg"] = {}
    for arm_name, arm_df in arms.items():
        arm_df.write.format("noop").mode("overwrite").save()  # warm-up
        arm_runs = []
        for _ in range(5):
            t0 = time.perf_counter()
            arm_df.write.format("noop").mode("overwrite").save()
            arm_runs.append(time.perf_counter() - t0)
        subtimers["group_agg"][arm_name] = round(sorted(arm_runs)[2], 3)

    # Skew-pair regression guard (VERDICT r13 #8): the x20 pair exists
    # to show salting beating the AQE-assisted plain join DECISIVELY;
    # after the r13 fixture fix the margin reads ~2-3x on clean runs. A
    # future AQE/conf change that silently erodes the guard's signal
    # must be caught mechanically: the detail artifact asserts a
    # conservative 1.3x floor (below any clean-run reading, above the
    # noise where the sign historically flipped). ok=false flags the
    # run; stdout stays the one compact line either way.
    skew_guard = None
    if timings.get("join_skewed_salted_x20") and timings.get(
        "join_skewed_plain_x20"
    ):
        margin = round(
            timings["join_skewed_plain_x20"]
            / timings["join_skewed_salted_x20"],
            2,
        )
        skew_guard = {
            "plain_over_salted": margin,
            "floor": 1.3,
            "ok": margin >= 1.3,
        }

    jvms_end = _foreign_jvm_pids()
    # A query is flagged noisy only when the REPORTED number is suspect:
    # the median sits far above the first-quartile run (one slow outlier
    # never moves a median and one fast outlier must not trip the flag),
    # past both a relative and an absolute bar — GC/scheduling jitter is
    # ~0.1 s regardless of query size, so a 60 ms query with an 80 ms
    # range (130%!) says nothing about the box.
    noisy_queries = [
        n for n in timings
        if (timings[n] - mins[n]) > 0.25 * timings[n]
        and (timings[n] - mins[n]) > 0.3
    ]
    env = {
        "cpus": cpus,
        # adaptive: 3 base runs, widened to 7 (<2.5 s) or 9 (<0.3 s)
        "runs_per_query": run_counts,
        # measurement sets needed per query under retry-until-stable
        # (VERDICT r09 #2); >1 means the first set failed the stability
        # policy and was re-measured from scratch
        "attempts_per_query": attempts_per_query,
        "stat": "median",
        "global_warmup": True,
        # foreign java processes on the box before the session started /
        # after the timed runs (should both be 0 on a clean protocol run)
        "concurrent_jvms_start": len(jvms_start),
        "concurrent_jvms_end": len(jvms_end),
        "loadavg_start": loadavg_start,
        # queries whose reported median sits >25% AND >0.3 s above their
        # first-quartile run (sub-second queries always jitter ~0.1 s)
        "noisy_queries": noisy_queries,
        # self-diagnosis: numbers in this artifact are NOT comparable
        # round-over-round when true — read SCALING.md's clean-protocol
        # table instead
        "noisy": bool(jvms_start or jvms_end or noisy_queries),
    }
    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    fixture_digest = _fixture_digest(sf_dir)
    # stdout: the compact driver-facing line ONLY (VERDICT r07 #1 — the
    # full artifact outgrew the driver's tail capture; parsed:null).
    # Compact separators shave ~15% more off the line length.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "noisy": env["noisy"],
                "fixture_digest": fixture_digest,
            },
            separators=(",", ":"),
        )
    )
    # Per-query stability verdict under the COMMITTED policy (module
    # docstring): pass iff spread_pct < 20 OR spread_abs_s <= 0.15.
    stability = {
        n: (
            "pass"
            if spreads[n] < STABILITY_SPREAD_PCT
            or spreads_abs[n] <= STABILITY_SPREAD_ABS_S
            else "FAIL"
        )
        for n in timings
    }
    # Full self-identifying artifact: spreads, run counts, env checks,
    # per-query stability verdicts, plus the same headline numbers so
    # the file stands alone. Written BOTH as the per-round
    # BENCH_DETAIL_r0N.json (diffable across rounds — the driver never
    # touches it) and as BENCH_DETAIL.json (stable path for tooling).
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    rnd = _round_number(repo_dir)
    detail = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "fixture_digest": fixture_digest,
        "fixture_digest_policy": (
            "blake2b over the sf_dir's parquet set; round-over-round "
            "ratios are meaningful ONLY between artifacts with equal "
            "digest+sf — drift_vs_prev refuses the comparison otherwise"
        ),
        "drift_vs_prev": _drift_vs_prev(
            repo_dir, rnd, fixture_digest, sf_val, timings
        ),
        "spread_pct": spreads,
        "spread_abs_s": spreads_abs,
        "stability_policy": (
            f"pass iff spread_pct < {STABILITY_SPREAD_PCT:g} OR "
            f"spread_abs_s <= {STABILITY_SPREAD_ABS_S:g} "
            "(the measured local-mode jitter floor; see module docstring)"
        ),
        "stability": stability,
        # standalone per-arm medians for merged headline rows; arm times
        # need not sum to the merged row (shared scan + final join)
        "subtimers": subtimers,
        # salted-vs-plain margin floor (VERDICT r13 #8) — ok=false means
        # the skew guard's signal eroded and the pair needs attention
        "skew_guard": skew_guard,
        "env": env,
    }
    for fname in (f"BENCH_DETAIL_r{rnd:02d}.json", "BENCH_DETAIL.json"):
        with open(os.path.join(repo_dir, fname), "w") as fh:
            json.dump(detail, fh, indent=1)
            fh.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
