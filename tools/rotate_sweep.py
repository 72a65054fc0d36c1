"""Regenerate the driver-sweep window (_SWEEP_PRIORITY) mechanically.

The round driver's CORRECTNESS sweep checks exactly the FIRST 50
registered queries, so the window in
``hadoop_trans_spark/queries/__init__.py`` must rotate every round —
never-driver-checked queries first, then previously-checked queries
oldest-green-first. Rounds 3 and 4 both staged the rotation as a comment
and forgot to apply it (the #1 verdict finding both times); this tool
makes the rotation a one-command operation:

    python tools/rotate_sweep.py          # rewrite __init__.py in place
    python tools/rotate_sweep.py --check  # exit 1 if the current window
                                          # differs from the computed one

Priority rule (deterministic given CORRECTNESS_r*.json):
  1. queries with NO driver CORRECTNESS row, in query-number order
     (oldest additions first — they've waited longest);
  2. queries whose latest driver row is a FAIL, oldest round first
     (a red must re-enter the window after its fix);
  3. queries listed in RESHAPED whose latest driver row PREDATES the
     round their implementation was reshaped in — the existing green
     proves the OLD code, so they must re-enter the window until a
     post-reshape row lands (then the pin self-clears);
  4. queries with green rows, least-recently-checked round first,
     query-number tiebreak.

Run it at the START of a round, after the driver wrote the previous
round's CORRECTNESS_r{N}.json, and commit the rewritten file first.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INIT = os.path.join(REPO, "hadoop_trans_spark", "queries", "__init__.py")
WINDOW = 50
BEGIN = "_SWEEP_PRIORITY = ["
END = "]"

# Query-name prefix -> round whose code reshape invalidated the prior
# driver row's vintage. A green driver row from an EARLIER round proved
# the pre-reshape implementation; pin the query into the window until a
# row with round >= the reshape round exists, after which the pin is
# inert (safe to leave entries here forever).
RESHAPED: dict[str, int] = {
    # round-6 100x-scale reshapes (banded global windows / rank-cuts /
    # WindowGroupLimit) whose latest driver rows predate the new code.
    "q110": 6,
    "q130": 6,
    "q137": 6,
    "q182": 6,
    "q198": 6,
    # round-13 reshapes: q41/q63 SimHash widened to a 64-bit fingerprint
    # with 16-bit pigeonhole segments (commits 459a3a4/9226064); q122's
    # XML reader trim contract changed (commit 9b212e1). Their latest
    # driver rows (r12/r9/r9) prove the pre-reshape code.
    "q41": 13,
    "q63": 13,
    "q122": 13,
    # round-14 OPTIMIZATION reshapes (OPTIMIZATION_r14.md): q205 FK
    # checks folded into one fact scan; q123 pagerank loop invariants
    # hoisted + node table derived from the outdeg checkpoint;
    # q68/q85/q70 connected_components convergence check restructured;
    # q244 triage fused into one mapInPandas (q244 and q70 re-pinned at
    # round 16 below). Latest driver rows predate these.
    "q205": 14,
    "q123": 14,
    "q68": 14,
    "q85": 14,
    # r14 pin-rule misses flagged by VERDICT r14 (item 4): q64 consumes
    # the r14-changed connected_components (operators/components.py) but
    # was left outside the r14 window; q202 exercises the r14 staging/
    # local-dir relayout (tmputil) whose 43.8→3 s claim the driver must
    # confirm cold.
    "q64": 14,
    "q202": 14,
    # round-15 OPTIMIZATION reshapes (OPTIMIZATION_r15.md): the media
    # synth→decode family fused into one Python crossing (q121, q151,
    # q152, q163, q229, q247); q204's wedge self-join replaced by the
    # in-array C(k,2) expansion over a materialized pair table; q216's
    # cumulative histogram materialized for its two consumers; q220's
    # rec/freq cutoff legs fused into one metric-tagged window; q246's
    # month list now reads report.to_copy. The media queries, q204 and
    # q246 changed again in round 16 and are pinned there below.
    "q216": 15,
    "q220": 15,
    # q181's tie-count windows re-framed onto the rank windows (same
    # exchange); q181's latest driver row predates the reshape.
    "q181": 15,
    # round-16: one Lloyd k-means core — kmeans_fit is now the one-slice
    # case of the (subspace)-keyed fused fit, so q105/q249
    # (kmeans_assignments) run the fused core, and q251/q253/q256 (the
    # PQ codebook fits, fused in r15) run it with the merged
    # update_centroids.
    "q105": 16,
    "q249": 16,
    "q251": 16,
    "q253": 16,
    "q256": 16,
    # round-16 migrate/health changes: one mergeSchema source read whose
    # footer pass is the health check, fs.data_files as the one
    # marker-free listing, schema_report over it (q33, q34, q245, q246).
    "q33": 16,
    "q34": 16,
    "q245": 16,
    "q246": 16,
    # round-16 media kernel: every payload operator is a row function
    # behind one batch driver (operators/multimodal._media_map).
    "q47": 16,
    "q48": 16,
    "q84": 16,
    "q121": 16,
    "q151": 16,
    "q152": 16,
    "q163": 16,
    "q229": 16,
    "q244": 16,
    "q247": 16,
    # round-16 co-purchase pair expansion: two codegen'd generators
    # (cooccur.upper_pairs) replace the interpreted higher-order lambdas
    # in the supplier backbone (q140/q147), the part pairs (q200/q204),
    # q204's wedges and q178's brand pairs.
    "q140": 16,
    "q147": 16,
    "q178": 16,
    "q200": 16,
    "q204": 16,
    # round-16 one operator per MinHash join: q86's corpus×batch band
    # join is operators.minhash.candidate_pairs_between, and q70 drops
    # non-canonical cluster members through
    # operators.components.dedup_keep_cluster_canonical.
    "q70": 16,
    "q86": 16,
    # round-16 one way to run a stream: every streaming query starts in
    # streaming.jobs.run_stream (q58's migrate now pinned and bounded),
    # q79/q148/q202 share one click/view join, q250/q254 run the one
    # restart harness, and the single-valued window/gap/delay options
    # became literals.
    "q54": 16,
    "q55": 16,
    "q56": 16,
    "q57": 16,
    "q58": 16,
    "q59": 16,
    "q60": 16,
    "q79": 16,
    "q88": 16,
    "q89": 16,
    "q132": 16,
    "q141": 16,
    "q148": 16,
    "q183": 16,
    "q189": 16,
    "q202": 16,
    "q250": 16,
    "q254": 16,
}


def reshape_round(name: str) -> int:
    """Round whose reshape the query must be re-proven against (0 if none)."""
    m = re.match(r"(q\d+)_", name)
    return RESHAPED.get(m.group(1), 0) if m else 0


def qnum(name: str) -> int:
    m = re.match(r"q(\d+)", name)
    return int(m.group(1)) if m else 10**9


def latest_status(
    rounds: dict[int, dict], names
) -> tuple[dict[str, int], dict[str, bool]]:
    """Fold per-round CORRECTNESS rows into (last_round, last_ok) maps.

    Keeps (round, ok) together and lets the highest round NUMBER win, so
    the result is independent of filename sort order (an unpadded r10
    would otherwise sort before r2 and a stale status could win).
    """
    last_round: dict[str, int] = {}
    last_ok: dict[str, bool] = {}
    for rnd, data in rounds.items():
        for name, row in data.items():
            if name not in names:
                continue  # renamed/removed; update_coverage reports orphans
            if rnd < last_round.get(name, -1):
                continue
            last_round[name] = rnd
            last_ok[name] = bool(
                row.get("hash_match")
                or (row.get("rows_match") and row.get("oracle_rows") is None)
            )
    return last_round, last_ok


def priority_key(name: str, last_round: dict, last_ok: dict) -> tuple:
    """Window sort key — buckets: 0 never-checked, 1 latest-row-red,
    2 green-but-reshape-stale (row predates the RESHAPED pin round),
    3 plain green oldest-round-first."""
    if name not in last_round:
        return (0, 0, qnum(name))  # never checked: oldest additions first
    if not last_ok[name]:
        return (1, last_round[name], qnum(name))  # latest row red
    if last_round[name] < reshape_round(name):
        # green, but the row proves pre-reshape code: re-prove next.
        return (2, last_round[name], qnum(name))
    return (3, last_round[name], qnum(name))  # green: oldest round first


def compute_window(exclude_rounds: frozenset = frozenset()) -> list[str]:
    from hadoop_trans_spark.queries import QUERIES

    rounds: dict[int, dict] = {}
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", p).group(1))
        if rnd in exclude_rounds:
            continue
        with open(p) as fh:
            rounds[rnd] = json.load(fh)
    last_round, last_ok = latest_status(rounds, set(QUERIES))
    ordered = sorted(
        QUERIES, key=lambda n: priority_key(n, last_round, last_ok)
    )
    return ordered[:WINDOW]


def pending_rounds() -> frozenset:
    """Rounds whose CORRECTNESS file has NOT been incorporated by any
    commit yet (untracked, or modified relative to HEAD).

    The driver drops ``CORRECTNESS_r{N}.json`` AFTER the builder's last
    commit, so at judge time the committed window is necessarily one
    rotation behind the on-disk files — that is PENDING, not stale (it
    produced the judge-time red in five rounds: 3, 4, 10, 11, 12). The
    moment any commit lands with the file tracked (the driver's own
    round-wrap commit does this), the round stops being pending and the
    window must reflect it — so a builder who forgets to rotate at
    round start still trips the check.
    """
    try:
        out = subprocess.run(
            ["git", "status", "--porcelain", "--", "CORRECTNESS_r*.json"],
            capture_output=True,
            text=True,
            cwd=REPO,
            check=True,
        ).stdout
    except Exception:
        return frozenset()  # not a git checkout: nothing is pending
    pend = set()
    for line in out.splitlines():
        m = re.search(r"CORRECTNESS_r(\d+)\.json", line)
        if m:
            pend.add(int(m.group(1)))
    return frozenset(pend)


def current_window() -> list[str]:
    src = open(INIT).read()
    body = src.split(BEGIN, 1)[1].split("\n]", 1)[0]
    return re.findall(r'"(q\w+)"', body)


def main() -> None:
    window = compute_window()
    if "--check" in sys.argv:
        cur = current_window()
        if cur != window:
            pend = pending_rounds()
            if pend and cur == compute_window(exclude_rounds=pend):
                print(
                    "window PENDING — CORRECTNESS file(s) for round(s) "
                    f"{sorted(pend)} landed after the last commit; the "
                    "committed window matches the pre-landing computation. "
                    "Rotate at next round start (tools/round_start.py)."
                )
                return
            print("window STALE — run `python tools/rotate_sweep.py`")
            print("computed head:", window[:5], "... current head:", cur[:5])
            raise SystemExit(1)
        print(f"window up to date ({len(window)} queries, head {window[0]})")
        return

    src = open(INIT).read()
    head, rest = src.split(BEGIN, 1)
    _, tail = rest.split("\n]", 1)
    body = "\n".join(
        ["    # Generated by tools/rotate_sweep.py — do not hand-edit;"]
        + ["    # rerun the tool at the start of each round and commit."]
        + [f'    "{n}",' for n in window]
    )
    with open(INIT, "w") as fh:
        fh.write(head + BEGIN + "\n" + body + "\n]" + tail)
    print(f"wrote {len(window)}-query window, head {window[0]}, tail {window[-1]}")


if __name__ == "__main__":
    main()
