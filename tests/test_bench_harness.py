"""Unit tests for bench.py's calibration handling (no Spark needed).

The BENCH stdout line carries a drift-calibration block so the judge can
separate code delta from machine drift; these pin the vintage check —
a calibration produced against anything but the NEWEST BENCH_r*.json
round must surface as a machine-readable error, never ride along as if
fresh — and the unreadable-file marker.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (
    HEAVY_S,
    MOVER_THRESHOLD,
    compute_movers,
    load_calibration,
    time_headline,
    write_snapshot,
)


def _write(d, name, obj):
    with open(os.path.join(d, name), "w") as fh:
        json.dump(obj, fh)


def test_no_calibration_file(tmp_path):
    assert load_calibration(str(tmp_path)) is None


def test_fresh_calibration_passes_through(tmp_path):
    calib = {"prev_round": 7, "prev_commit": "abc1234", "drift_factor": 1.05}
    _write(tmp_path, "calibration.json", calib)
    _write(tmp_path, "BENCH_r06.json", {"parsed": {"value": 1.0}})
    _write(tmp_path, "BENCH_r07.json", {"parsed": {"value": 2.0}})
    assert load_calibration(str(tmp_path)) == calib


def test_stale_calibration_flagged(tmp_path):
    _write(tmp_path, "calibration.json", {"prev_round": 6, "drift_factor": 1.1})
    _write(tmp_path, "BENCH_r07.json", {"parsed": {"value": 2.0}})
    got = load_calibration(str(tmp_path))
    assert got == {
        "error": "calibration stale",
        "calibrated_against_round": 6,
        "latest_bench_round": 7,
    }


def test_stale_check_survives_double_digit_rounds(tmp_path):
    # r10 must compare numerically (not lexically) against r9.
    _write(tmp_path, "calibration.json", {"prev_round": 9})
    _write(tmp_path, "BENCH_r09.json", {"parsed": {"value": 1.0}})
    _write(tmp_path, "BENCH_r10.json", {"parsed": {"value": 1.0}})
    got = load_calibration(str(tmp_path))
    assert got["error"] == "calibration stale"
    assert got["latest_bench_round"] == 10
    _write(tmp_path, "calibration.json", {"prev_round": 10})
    assert load_calibration(str(tmp_path)) == {"prev_round": 10}


def test_unreadable_calibration_marked(tmp_path):
    with open(os.path.join(tmp_path, "calibration.json"), "w") as fh:
        fh.write("{not json")
    assert load_calibration(str(tmp_path)) == {
        "error": "calibration.json unreadable"
    }


def test_no_bench_rounds_yet_keeps_calibration(tmp_path):
    # A repo with no BENCH_r*.json (fresh clone pre-round-1) has nothing
    # to vintage-check against; keep the file rather than false-flagging.
    calib = {"prev_round": 1}
    _write(tmp_path, "calibration.json", calib)
    assert load_calibration(str(tmp_path)) == calib


def test_same_round_rerun_not_false_flagged(tmp_path):
    # ADVICE r8: a round-9 calibration (prev_round=8) must stay fresh
    # after the driver captures BENCH_r09.json, IF that artifact's own
    # embedded calibration block carries the same prev_commit — it's the
    # very calibration that produced the line, not a stale leftover.
    calib = {"prev_round": 8, "prev_commit": "abc1234", "drift_factor": 1.02}
    _write(tmp_path, "calibration.json", calib)
    _write(
        tmp_path,
        "BENCH_r09.json",
        {"parsed": {"value": 5.0, "calibration": {"prev_commit": "abc1234"}}},
    )
    assert load_calibration(str(tmp_path)) == calib


def test_genuinely_stale_still_flagged_despite_embedded_block(tmp_path):
    # A DIFFERENT prev_commit in the newest BENCH's embedded block means
    # the on-disk file is from an older round — still stale.
    _write(
        tmp_path,
        "calibration.json",
        {"prev_round": 7, "prev_commit": "old0000"},
    )
    _write(
        tmp_path,
        "BENCH_r09.json",
        {"parsed": {"value": 5.0, "calibration": {"prev_commit": "new1111"}}},
    )
    got = load_calibration(str(tmp_path))
    assert got["error"] == "calibration stale"


def test_stale_without_prev_commit_still_flagged(tmp_path):
    # No prev_commit to disambiguate with -> conservative: stale.
    _write(tmp_path, "calibration.json", {"prev_round": 8})
    _write(
        tmp_path,
        "BENCH_r09.json",
        {"parsed": {"value": 5.0, "calibration": {"prev_commit": "abc1234"}}},
    )
    assert load_calibration(str(tmp_path))["error"] == "calibration stale"


def test_movers_flags_drift_adjusted_regressions(tmp_path):
    _write(
        tmp_path,
        "BENCH_r08.json",
        {"parsed": {"queries": {"q1": 1.0, "q2": 2.0, "q3": 1.0}}},
    )
    calib = {"prev_round": 8, "drift_factor": 1.1}
    # q1: 1.6 / (1.0*1.1) = 1.45 -> mover; q2: 2.2/2.2 = 1.0 -> not;
    # q3: 1.3 / 1.1 = 1.18 -> below threshold.
    timings = {"q1": 1.6, "q2": 2.2, "q3": 1.3}
    movers = compute_movers(timings, str(tmp_path), calib)
    assert [m["query"] for m in movers] == ["q1"]
    assert movers[0]["drift_adj_ratio"] > MOVER_THRESHOLD
    assert movers[0]["prev_s"] == 1.0 and movers[0]["cur_s"] == 1.6


def test_movers_uses_newest_round_and_raw_ratio_without_calibration(tmp_path):
    _write(tmp_path, "BENCH_r08.json", {"parsed": {"queries": {"q1": 9.0}}})
    _write(tmp_path, "BENCH_r09.json", {"parsed": {"queries": {"q1": 1.0}}})
    # Stale-marked calibration must NOT contribute its drift factor.
    movers = compute_movers(
        {"q1": 1.3}, str(tmp_path), {"error": "calibration stale"}
    )
    assert [m["query"] for m in movers] == ["q1"]
    assert movers[0]["drift_adj_ratio"] == 1.3


def test_movers_empty_without_bench_artifacts(tmp_path):
    assert compute_movers({"q1": 1.0}, str(tmp_path), None) == []


def test_missed_recalibration_cannot_self_perpetuate(tmp_path):
    # Round 10 forgets bench_calibrate: the round-9 calibration
    # (prev_round=8) had its prev_commit embedded into BENCH_r09 AND,
    # via the bypass, would be re-embedded into BENCH_r10. The
    # prev_round==latest-1 leg must flag it stale anyway — a matching
    # embedded commit only vouches for the round right after it.
    calib = {"prev_round": 8, "prev_commit": "9a53057"}
    _write(tmp_path, "calibration.json", calib)
    _write(
        tmp_path,
        "BENCH_r09.json",
        {"parsed": {"value": 5.0, "calibration": {"prev_commit": "9a53057"}}},
    )
    _write(
        tmp_path,
        "BENCH_r10.json",
        {"parsed": {"value": 5.0, "calibration": {"prev_commit": "9a53057"}}},
    )
    got = load_calibration(str(tmp_path))
    assert got["error"] == "calibration stale"
    assert got["latest_bench_round"] == 10


def test_movers_fall_back_past_parsed_null_artifact(tmp_path):
    # A truncated driver capture ('parsed': null — the rounds-1-2
    # failure mode) must not disable movers: the newest artifact WITH a
    # per-query map becomes the baseline, and drift gating keys on that
    # baseline round.
    _write(tmp_path, "BENCH_r09.json", {"parsed": {"queries": {"q1": 1.0}}})
    _write(tmp_path, "BENCH_r10.json", {"parsed": None})
    calib = {"prev_round": 9, "drift_factor": 1.0}
    movers = compute_movers({"q1": 1.5}, str(tmp_path), calib)
    assert [m["query"] for m in movers] == ["q1"]
    assert movers[0]["drift_adj_ratio"] == 1.5


def test_movers_ignore_drift_from_a_different_baseline_round(tmp_path):
    # calibration maps r8->today, but the movers baseline is BENCH_r09
    # (this round's own artifact landed): factor must NOT apply.
    _write(tmp_path, "BENCH_r09.json", {"parsed": {"queries": {"q1": 1.0}}})
    calib = {"prev_round": 8, "drift_factor": 2.0}
    movers = compute_movers({"q1": 1.3}, str(tmp_path), calib)
    assert [m["query"] for m in movers] == ["q1"]
    assert movers[0]["drift_adj_ratio"] == 1.3


def test_same_round_vouching_survives_parsed_null_via_tail(tmp_path):
    # ADVICE r9 (medium): BENCH_r09.json landed with parsed:null (driver
    # capture truncation) but the calibration block survives in the raw
    # 2000-char tail — the round-9 calibration (prev_round=8) must still
    # be vouched fresh, not misreported "calibration stale".
    calib = {"prev_round": 8, "prev_commit": "9a53057", "drift_factor": 1.18}
    _write(tmp_path, "calibration.json", calib)
    _write(
        tmp_path,
        "BENCH_r09.json",
        {
            "parsed": None,
            "tail": (
                '..., "sf": 0.1, "calibration": {"prev_commit": "9a53057",'
                ' "prev_recorded_s": 176.9648, "prev_rerun_s": 208.0122},'
                ' "movers": []}'
            ),
        },
    )
    assert load_calibration(str(tmp_path)) == calib


def test_parsed_null_tail_with_different_commit_still_stale(tmp_path):
    # The tail fallback must not weaken the vouching: a different
    # prev_commit in the tail block means the on-disk file is older.
    _write(
        tmp_path,
        "calibration.json",
        {"prev_round": 8, "prev_commit": "old0000"},
    )
    _write(
        tmp_path,
        "BENCH_r09.json",
        {
            "parsed": None,
            "tail": '"calibration": {"prev_commit": "new1111"}, "movers": []}',
        },
    )
    assert load_calibration(str(tmp_path))["error"] == "calibration stale"


def test_movers_prefer_full_map_from_fresh_calibration(tmp_path):
    # VERDICT r9 item 4: a fresh calibration carrying the full per-query
    # rerun map becomes the movers baseline — covering queries absent
    # from the BENCH tail's headline map — at drift 1.0 (same machine).
    _write(tmp_path, "BENCH_r09.json", {"parsed": {"queries": {"q1": 1.0}}})
    calib = {
        "prev_round": 9,
        "drift_factor": 1.18,  # must NOT apply to the same-machine rerun
        "queries": {"q1": 1.0, "q2_nonheadline": 2.0},
    }
    movers = compute_movers(
        {"q1": 1.1, "q2_nonheadline": 3.0}, str(tmp_path), calib
    )
    assert [m["query"] for m in movers] == ["q2_nonheadline"]
    assert movers[0]["drift_adj_ratio"] == 1.5
    assert movers[0]["baseline"] == "calibration_rerun(r9)"


def test_movers_fall_back_to_artifacts_when_calibration_map_empty(tmp_path):
    # A calibration without a rerun map (pre-r10 format) keeps the old
    # BENCH-artifact baseline and its drift gating.
    _write(tmp_path, "BENCH_r08.json", {"parsed": {"queries": {"q1": 1.0}}})
    calib = {"prev_round": 8, "drift_factor": 1.1, "queries": {}}
    movers = compute_movers({"q1": 1.6}, str(tmp_path), calib)
    assert [m["query"] for m in movers] == ["q1"]
    assert movers[0]["drift_adj_ratio"] == round(1.6 / 1.1, 4)
    assert movers[0]["baseline"] == "BENCH_r8"


def test_movers_ignore_full_map_on_stale_calibration(tmp_path):
    # A stale-marked calibration must not contribute its map either.
    _write(tmp_path, "BENCH_r09.json", {"parsed": {"queries": {"q1": 1.0}}})
    movers = compute_movers(
        {"q1": 1.3},
        str(tmp_path),
        {"error": "calibration stale", "queries": {"q1": 0.5}},
    )
    assert [m["query"] for m in movers] == ["q1"]
    assert movers[0]["drift_adj_ratio"] == 1.3
    assert movers[0]["baseline"] == "BENCH_r9"


def test_movers_skip_calibration_map_on_sf_mismatch(tmp_path):
    # A local sf0.001 run must not compare against the sf0.1 rerun map;
    # it falls back to a same-SF BENCH artifact (sf-less artifacts stay
    # eligible for backward compatibility).
    _write(tmp_path, "BENCH_r09.json", {"parsed": {"queries": {"q1": 1.0}}})
    calib = {"prev_round": 9, "sf": 0.1, "queries": {"q1": 0.1}}
    movers = compute_movers({"q1": 1.3}, str(tmp_path), calib, sf=0.001)
    assert movers[0]["baseline"] == "BENCH_r9"
    movers = compute_movers({"q1": 1.3}, str(tmp_path), calib, sf=0.1)
    assert movers[0]["baseline"] == "calibration_rerun(r9)"


def test_movers_skip_artifact_baseline_on_sf_mismatch(tmp_path):
    # An artifact that RECORDS a different sf is not a baseline either:
    # the sf0.1 artifact is skipped and the sf0.001 one behind it wins.
    _write(
        tmp_path,
        "BENCH_r08.json",
        {"parsed": {"sf": 0.001, "queries": {"q1": 1.0}}},
    )
    _write(
        tmp_path,
        "BENCH_r09.json",
        {"parsed": {"sf": 0.1, "queries": {"q1": 100.0}}},
    )
    movers = compute_movers({"q1": 1.3}, str(tmp_path), None, sf=0.001)
    assert [m["query"] for m in movers] == ["q1"]
    assert movers[0]["baseline"] == "BENCH_r8"


def test_time_headline_light_query_best_of_two():
    draws = iter([0.4, 0.3])
    best, n = time_headline(lambda i: next(draws))
    assert (best, n) == (0.3, 2)


def test_time_headline_heavy_query_min_of_three():
    # VERDICT r9 item 3: q105's 9.85 s driver draw vs 2.91 s warm re-time
    # — the outlier first draw must not set the recorded time.
    draws = iter([9.85, 2.91, 3.05])
    best, n = time_headline(lambda i: next(draws))
    assert (best, n) == (2.91, 3)


def test_time_headline_heavy_keeps_fastest_first_draw():
    # ADVICE r10: discarding draw 1 outright recorded 1.9 for
    # 1.6/1.9/2.0 — the honest fastest draw must win (the caller clears
    # stage memos before every draw, so draw 1 is never memo-warm).
    draws = iter([1.6, 1.9, 2.0])
    best, n = time_headline(lambda i: next(draws))
    assert (best, n) == (1.6, 3)


def test_time_headline_heavy_detection_uses_first_draw_only():
    # First draw at/below the threshold -> best-of-2 even if the second
    # draw lands heavy (no retroactive reclassification).
    draws = iter([HEAVY_S, 2.4])
    best, n = time_headline(lambda i: next(draws))
    assert (best, n) == (HEAVY_S, 2)


def test_time_headline_passes_run_index():
    seen = []

    def run_once(i):
        seen.append(i)
        return 2.0

    time_headline(run_once)
    assert seen == [0, 1, 2]


def test_movers_require_absolute_delta_floor(tmp_path):
    # Sub-second fixed-cost jitter (every adjudicated r10 sub-second
    # "mover": 0.04-0.17 s deltas at >1.25x ratio) must not flag; a real
    # multi-second regression still does.
    _write(
        tmp_path,
        "BENCH_r09.json",
        {"parsed": {"queries": {"q_small": 0.2, "q_big": 1.45}}},
    )
    movers = compute_movers(
        {"q_small": 0.38, "q_big": 2.85}, str(tmp_path), None
    )
    assert [m["query"] for m in movers] == ["q_big"]


def test_movers_abs_floor_is_drift_adjusted(tmp_path):
    # The floor compares against the DRIFT-ADJUSTED baseline: with a 2x
    # drift, 1.0 -> 2.2 is only +0.2 of real movement -> not a mover.
    _write(tmp_path, "BENCH_r08.json", {"parsed": {"queries": {"q1": 1.0}}})
    calib = {"prev_round": 8, "drift_factor": 2.0}
    assert compute_movers({"q1": 2.2}, str(tmp_path), calib) == []


def test_movers_discount_suite_wide_machine_shift(tmp_path):
    # Identical code drawn on a hotter machine: every query uniformly
    # ~1.3x slower must produce ZERO movers (the r10-close false-flag
    # case), while a genuine path regression riding the same run still
    # flags against the suite-median-normalized baseline.
    prev = {f"q{i:03d}": 1.0 for i in range(30)}
    cur = {f"q{i:03d}": 1.3 for i in range(30)}
    _write(tmp_path, "BENCH_r09.json", {"parsed": {"queries": prev}})
    assert compute_movers(cur, str(tmp_path), None) == []

    cur["q005"] = 3.9  # 3x beyond the suite shift
    movers = compute_movers(cur, str(tmp_path), None)
    assert [m["query"] for m in movers] == ["q005"]
    assert movers[0]["suite_med_ratio"] == 1.3
    assert abs(movers[0]["drift_adj_ratio"] - 3.0) < 0.01


def test_movers_small_maps_skip_suite_normalization(tmp_path):
    # Below the estimation mass the raw drift-adjusted ratio applies
    # (suite=1.0): two queries both 1.5x with real deltas still flag.
    _write(
        tmp_path,
        "BENCH_r09.json",
        {"parsed": {"queries": {"q1": 1.0, "q2": 2.0}}},
    )
    movers = compute_movers({"q1": 1.5, "q2": 3.0}, str(tmp_path), None)
    assert [m["query"] for m in movers] == ["q1", "q2"]
    assert all(m["suite_med_ratio"] == 1.0 for m in movers)


def test_compact_line_fits_budget_with_full_suite():
    # The driver keeps only the LAST 2000 chars of stdout; BENCH_r09 and
    # BENCH_r10 both recorded parsed:null because the line overflowed.
    # Worst realistic load: 58 headline entries, 31 movers, calibration.
    from bench import LINE_BUDGET_BYTES, compact_stdout_line

    names = [f"q{i:03d}_some_longish_query_name" for i in range(58)]
    timings = {n: round(0.1 + i * 0.037, 4) for i, n in enumerate(names)}
    movers = [{"query": n} for n in names[:31]]
    calib = {
        "prev_commit": "dcbe61d",
        "prev_recorded_s": 200.39,
        "prev_rerun_s": 180.9501,
        "queries": {n: 1.0 for n in names},  # must NOT ride the line
    }
    line = compact_stdout_line(123.4, 0.1, timings, names, calib, movers)
    assert len(json.dumps(line)) <= LINE_BUDGET_BYTES
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in line
    assert "queries" not in line["calibration"]
    # Most-expensive entries survive the cut.
    kept = set(line["queries"])
    assert names[-1] in kept and timings[names[-1]] == max(timings.values())
    if line.get("queries_shown") is not None:
        assert line["queries_shown"] == len(kept) < line["queries_total"]
    assert len(line["movers"]) <= 12
    assert line["movers_total"] == 31


def test_compact_line_small_suite_keeps_everything():
    from bench import compact_stdout_line

    names = ["q1", "q2"]
    line = compact_stdout_line(1.0, 0.01, {"q1": 0.5, "q2": 0.4}, names, None, [])
    assert line["queries"] == {"q1": 0.5, "q2": 0.4}
    assert "queries_shown" not in line and "movers_total" not in line
    assert "calibration" not in line


def test_tail_recovery_parses_nested_calibration(tmp_path):
    # ADVICE r10: the old flat-brace regex silently failed on any nested
    # object inside the calibration block; raw_decode must not.
    _write(
        tmp_path,
        "calibration.json",
        {"prev_round": 8, "prev_commit": "abc1234"},
    )
    _write(
        tmp_path,
        "BENCH_r09.json",
        {
            "parsed": None,
            "tail": (
                '..., "calibration": {"prev_commit": "abc1234", '
                '"detail": {"nested": {"deep": 1}}}, "movers": []}'
            ),
        },
    )
    got = load_calibration(str(tmp_path))
    assert got == {"prev_round": 8, "prev_commit": "abc1234"}


def test_tail_recovery_truncated_block_returns_stale(tmp_path):
    # A calibration block cut mid-object by the capture window must not
    # vouch anything.
    _write(
        tmp_path,
        "calibration.json",
        {"prev_round": 8, "prev_commit": "abc1234"},
    )
    _write(
        tmp_path,
        "BENCH_r09.json",
        {"parsed": None, "tail": '..., "calibration": {"prev_commit": "abc'},
    )
    assert load_calibration(str(tmp_path))["error"] == "calibration stale"


def test_timed_runs_go_through_bench_draw():
    """The draw rule (empty the stage memo, build, noop-write, time) lives
    only in bench.draw: nothing in tools/ or elsewhere in bench.py clears
    the memo itself, and no hand table of memo tags (MEMOIZED) is defined
    or imported."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.path.join(repo, "bench.py")] + sorted(
        glob.glob(os.path.join(repo, "tools", "*.py"))
    )
    found = []
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        allowed = set()
        if path == paths[0]:  # bench.py
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == "draw":
                    allowed = {id(n) for n in ast.walk(node)}
        where = os.path.relpath(path, repo)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and id(node) not in allowed:
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name == "clear_stage_memo":
                    found.append(f"{where}:{node.lineno} calls clear_stage_memo")
            names = []
            if isinstance(node, ast.Name):
                names.append(node.id)
            elif isinstance(node, ast.Attribute):
                names.append(node.attr)
            elif isinstance(node, ast.alias):
                names += [node.name, node.asname]
            if "MEMOIZED" in names:
                found.append(f"{where}:{getattr(node, 'lineno', '?')} MEMOIZED")
    assert not found, found


def test_snapshot_kept_when_sf_differs(tmp_path, capsys):
    # A quick sf0.001 run must not replace the round's committed sf0.1 map.
    snap = tmp_path / "bench_results_r16.json"
    committed = {"sf": 0.1, "value": 424.5, "queries": {"q01": 1.6}}
    snap.write_text(json.dumps(committed))
    assert write_snapshot(str(snap), {"sf": 0.001, "value": 9.0}) is False
    assert json.loads(snap.read_text()) == committed
    assert "bench_results_r16.json" in capsys.readouterr().err


def test_snapshot_written_when_missing_or_same_sf(tmp_path):
    snap = tmp_path / "bench_results_r16.json"
    assert write_snapshot(str(snap), {"sf": 0.001, "value": 9.0}) is True
    assert json.loads(snap.read_text())["value"] == 9.0
    assert write_snapshot(str(snap), {"sf": 0.001, "value": 8.0}) is True
    assert json.loads(snap.read_text())["value"] == 8.0
