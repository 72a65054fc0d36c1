"""State-store restart probe for the streaming surface (VERDICT r12 item 3).

Every declared streaming query runs the whole fixture as ONE availableNow
pass with a fresh checkpoint, so the driver gate never exercises the
contract a production stream lives by: stop mid-stream, restart from the
checkpoint, and produce EXACTLY the rows a never-stopped run produces —
no losses (state forgotten on resume) and no duplicates (state replayed).
This probe drives that contract for every stateful operator family,
each scenario one job on one checkpoint through the package's
``streaming.restart_harness`` (the harness q250 and q254 run):

  1. the harness stages the fixture's events as K ts-ordered files
     (arrival order — the shape a migrate loop feeds a landing dir);
  2. SINGLE run: one availableNow pass over all K files, fresh
     checkpoint — the reference result;
  3. RESTART run: only the first half of the files landed, availableNow
     to completion (watermark mid-stream, open windows / dedup keys /
     join buffers / custom state live in the checkpoint), query
     STOPPED; remaining files land; a NEW query resumed from the SAME
     checkpoint;
  4. compare the canonical final result of (3) against (2);
  5. with ``--abort``: all files landed, the first query crashes after
     the sink write of batch N (``crash_after``), a NEW query resumes
     from its checkpoint; the batch_id-merged result must equal (2).

Output-mode canonicalization: append emits each row exactly once across
both phases (union phase sinks); update re-emits a key per batch it
changed (canonical = the job's own monotone fold, max per key); complete
re-emits full state (canonical = LAST phase's table alone).

Usage:
  python tools/stream_probe.py [fixture_dir] [--files=6] [--jobs=a,b,...]
                               [--abort | --abort=1,3]

Differential probing under injected data (the null_probe campaign):
  python tools/null_probe.py SRC_FIXTURE PROBE_DIR --mode=time
  python tools/stream_probe.py PROBE_DIR --abort

Prints one JSON line per scenario, then a summary line
``=== STREAM RESTART PROBE === jobs: N  bad: M``; exit 1 on any
restart-vs-single mismatch, or on an abort scenario whose injected
crash never fired (its run had too few batches to reach the abort
point, so it resumed nothing). Jobs covered: tumbling, sliding, session,
chained, dedup, join_inner, join_left, join_full, streaks
(applyInPandasWithState), totals (complete mode).
"""

from __future__ import annotations

import json
import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


ABORT_MARK = "stream_probe injected crash"


def crash_after(n: int):
    """``after_batch`` hook injecting the UNCLEAN-restart crash: the
    sink completes its write for batch ``n`` (rows
    collected — the external side effect happened) and then raises, so
    the query dies BETWEEN the sink write and the batch's commit-log
    entry — the harsher window a clean stop() never exercises. On
    resume Spark must replay batch ``n`` (it never committed) with state
    stores rolled back to version ``n``: the collector legitimately sees
    batch ``n`` twice, which is exactly why foreachBatch's contract is
    at-least-once and production sinks key their writes on batchId.
    The probe models that idempotent sink: merge_by_batch_id keeps the
    LAST write per batch_id before comparing."""

    def hook(batch_id: int) -> None:
        if batch_id >= n:
            raise RuntimeError(f"{ABORT_MARK} after sink write of batch {batch_id}")

    return hook


def run_job(spark, src, n_files, build, mode, landed):
    """One job on one checkpoint (the package's restart_harness), one
    phase per entry of ``landed`` (files present when it starts).
    Returns every phase's [(batch_id, rows)]."""
    from hadoop_trans_spark.streaming import restart_harness

    with restart_harness(spark, src, n_files) as run:
        for n in landed:
            run.phase(lambda d: build(spark, d), mode, n)
    return run.phases


def run_crashed(spark, src, n_files, build, mode, abort_after):
    """All files landed; the first query crashes after the sink write of
    batch ``abort_after``, a NEW one resumes from its checkpoint.
    Returns ((crashed, resumed) [(batch_id, rows)], whether the crash
    fired — a run with no batch ``abort_after`` never crashes)."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from hadoop_trans_spark.streaming import restart_harness

    fired = False
    with restart_harness(spark, src, n_files) as run:
        try:
            run.phase(
                lambda d: build(spark, d), mode, n_files, crash_after(abort_after)
            )
        except StreamingQueryException as ex:
            if ABORT_MARK not in str(ex):
                raise
            fired = True
        run.phase(lambda d: build(spark, d), mode, n_files)
    return run.phases, fired


def merge_by_batch_id(phases) -> list[tuple[int, list]]:
    """Idempotent-sink fold across crash/resume phases: the resume
    replays the uncommitted batch under the SAME batch_id, and a
    production exactly-once sink (txn keyed on batchId) overwrites it —
    keep the last write per batch_id, in batch order."""
    final: dict[int, list] = {}
    for phase in phases:
        for bid, rows in phase:
            final[bid] = rows
    return [(bid, final[bid]) for bid in sorted(final)]


def flat(batches) -> list:
    """[(batch_id, rows)] → all rows in batch order."""
    return [r for _, rows in batches for r in rows]


def canon_rows(rows) -> list[tuple]:
    # None-safe sort: outer joins emit NULL-padded rows
    return sorted(
        (tuple(r) for r in rows),
        key=lambda t: tuple((v is None, v) for v in t),
    )


def canon_streaks(rows) -> list[tuple]:
    """update-mode fold: counters are monotone, max per key is final."""
    best: dict = {}
    for r in rows:
        k = r[0]
        cur = best.get(k)
        best[k] = (
            (k, max(cur[1], r[1]), max(cur[2], r[2])) if cur else tuple(r)
        )
    return sorted(best.values())


def jobs_table():
    """name -> (build(spark, dir) -> streaming DF, output_mode,
    canonicalize(single_rows, restart_phase_rows) -> (a, b))."""
    from hadoop_trans_spark.streaming import (
        chained_windowed_rollup,
        complete_totals_stream,
        read_events_stream,
        session_windows,
        sliding_counts,
        stream_dedup,
        stream_stream_join,
        tumbling_counts,
        user_streaks_updates,
    )

    def es(spark, d):
        # one file per micro-batch: the watermark and every state store
        # advance K times per phase, not once
        return read_events_stream(spark, d, max_files_per_trigger=1)

    def union(single, phases):
        return canon_rows(flat(single)), canon_rows(
            [r for b in phases for r in flat(b)]
        )

    def fold_streaks(single, phases):
        return canon_streaks(flat(single)), canon_streaks(
            [r for b in phases for r in flat(b)]
        )

    def last_table(single, phases):
        # complete mode re-emits full state per batch: final state is
        # the LAST batch of the LAST phase (and of the single run)
        return canon_rows(single[-1][1]), canon_rows(phases[-1][-1][1])

    jobs = {
        "tumbling": (tumbling_counts, "append", union),
        "sliding": (sliding_counts, "append", union),
        "session": (session_windows, "append", union),
        "chained": (chained_windowed_rollup, "append", union),
        "dedup": (stream_dedup, "append", union),
        "join_inner": (partial(stream_stream_join, how="inner"), "append", union),
        "join_left": (partial(stream_stream_join, how="left_outer"), "append", union),
        "join_full": (partial(stream_stream_join, how="full_outer"), "append", union),
        "streaks": (user_streaks_updates, "update", fold_streaks),
        "totals": (complete_totals_stream, "complete", last_table),
    }
    return {
        name: (lambda s, d, job=job: job(es(s, d)), mode, canon)
        for name, (job, mode, canon) in jobs.items()
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    src = args[0] if args else "/root/testdata/sf0.001"
    n_files = 6
    only = None
    abort_points: list[int] = []
    for a in sys.argv[1:]:
        if a.startswith("--files="):
            n_files = int(a.split("=", 1)[1])
        if a.startswith("--jobs="):
            only = a.split("=", 1)[1].split(",")
        if a == "--abort":
            abort_points = [1, 3]
        elif a.startswith("--abort="):
            abort_points = [int(x) for x in a.split("=", 1)[1].split(",")]

    from hadoop_trans_spark.session import get_spark

    spark = get_spark(app_name="stream_probe")
    half = n_files // 2 or 1

    table = jobs_table()
    if only:
        table = {k: v for k, v in table.items() if k in only}
    bad = []
    for name, (build, mode, canon) in table.items():
        # SINGLE: all files, fresh checkpoint
        (single,) = run_job(spark, src, n_files, build, mode, [n_files])
        # RESTART: first half, stop, add the rest, resume from the SAME
        # checkpoint (a new query object — the process-restart shape)
        phase1, phase2 = run_job(
            spark, src, n_files, build, mode, [half, n_files]
        )
        a, b = canon(single, [phase1, phase2])
        ok = a == b
        status = {
            "single_rows": len(a),
            "restart_rows": len(b),
            "phase1_rows": len(flat(phase1)),
            "phase2_rows": len(flat(phase2)),
            "single_batches": len(single),
            "match": ok,
        }
        if not ok:
            sa, sb = set(a), set(b)
            status["missing_after_restart"] = [
                repr(x) for x in sorted(sa - sb)[:5]
            ]
            status["extra_after_restart"] = [
                repr(x) for x in sorted(sb - sa)[:5]
            ]
            bad.append(name)
        print(json.dumps({name: status}))

        # UNCLEAN restarts: crash between sink write and batch commit at
        # each abort point (all files present from the start), resume
        # from the same checkpoint, idempotent-sink merge by batch_id.
        for ap in abort_points:
            (crashed, resumed), fired = run_crashed(
                spark, src, n_files, build, mode, ap
            )
            merged = merge_by_batch_id([crashed, resumed])
            aa, bb = canon(single, [merged])
            replayed = {b for b, _ in crashed} & {b for b, _ in resumed}
            # a crash that never fired tested no resume
            ok2 = fired and aa == bb
            st2 = {
                "abort_after_batch": ap,
                "crash_fired": fired,
                "single_rows": len(aa),
                "crash_resume_rows": len(bb),
                "replayed_batch_ids": sorted(replayed),
                "match": ok2,
            }
            if not ok2:
                sa, sb = set(aa), set(bb)
                st2["missing"] = [repr(x) for x in sorted(sa - sb)[:5]]
                st2["extra"] = [repr(x) for x in sorted(sb - sa)[:5]]
                bad.append(f"{name}@abort{ap}")
            print(json.dumps({f"{name}_abort{ap}": st2}))
    print(
        f"\n=== STREAM RESTART PROBE === jobs: {len(table)}  bad: {len(bad)}"
        + (f"  ({','.join(bad)})" if bad else "")
    )
    if bad:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
