"""Benchmark harness: runs the headline declared queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE compact JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Stdout stays small on purpose: the driver's output capture truncated the
old 121-entry per-query map mid-object in rounds 1-2 and recorded
``"parsed": null``. The printed ``queries`` map now carries only the
headline set; the full per-query detail goes to ``bench_results.json``
next to this script.

Each query is executed to completion after a warm-up of the session;
per-query wall-clock is reported plus the total (which still covers
EVERY declared query, not just the headline set).

Action protocol (v2, round 12): queries execute via a noop-sink WRITE
(`df.write.format("noop")`), which computes EVERY output column. The
v1 protocol used `.count()`, and Catalyst rightly optimizes a count:
unreferenced final-stage expressions are pruned, order-preserving sorts
are eliminated, and row-count-neutral Windows are removed outright — so
a query whose outputs feed nothing downstream timed a PARTIAL plan.
Round-12 bisect (SCALE.md): q20_window_rank timed 0.12 s under count vs
0.78 s honest (the Window never ran); q01 0.57 vs 1.72 (the eight
decimal aggregates were pruned); q237's r11 "2.9x regression" was the
r10 number being fake — the r11 exact-moment filter on `rev` forced the
daily sums count() had been skipping. Cross-round comparability is
preserved by tools/bench_calibrate.py --inject-bench, which re-runs the
PREVIOUS round's code under THIS protocol on today's machine.

Headline queries are timed BEST-OF-2 (two full executions, min recorded):
single-run timings in a shared 132-query session proved noisy enough in
rounds 2-3 (q41 3.26 vs 4.32 s across rounds with no code change on its
path) that regressions were indistinguishable from GC/session pressure.
Heavy headline queries (first run > HEAVY_S) get a third run with the
FIRST run discarded: round 9 showed the heavy tail draws multi-x outliers
(q105 9.85 s driver vs 2.91 s warm re-time on the same code) that
best-of-2 can't absorb when the outlier IS one of the two draws
(VERDICT r9 item 3). Non-headline queries stay single-run to bound total
bench time; the recorded run count per query is in bench_results.json.

Stage memo: queries that share a pipeline stage (MinHash pairs, SimHash
fingerprints, the supplier backbone, the streaming late-batch staging)
memoize it per session (operators/stage.py memo_stage). Each timed draw
starts from an EMPTY memo (`draw`), so every draw builds the stages its
query reads: a query's time is its standalone cost — what
``python -m hadoop_trans_spark query qNN`` pays — and does not depend on
which queries ran before it. Within one draw the memo still shares a
stage between the query's own consumers. `draw` is the one timed run;
bench's loop, --adjudicate and the tools all call it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hadoop_trans_spark.operators.stage import clear_stage_memo  # noqa: E402
from hadoop_trans_spark.queries import QUERIES  # noqa: E402
from hadoop_trans_spark.session import get_spark  # noqa: E402

# Headline set: one per operator family, weighted toward the plans whose
# scale behavior matters (joins, aggs, windows, dedup, similarity).
HEADLINE = [
    "q01_pricing_summary",
    "q04_broadcast_join",
    "q05_revenue_by_nation",
    "q06_outer_join_order_counts",
    "q08_semi_anti_customers",
    "q10_asof_click_to_view",
    "q11_agg_battery",
    "q12_approx_distinct",
    "q14_cube",
    "q18_dedup_keep_first",
    "q20_window_rank",
    "q21_window_analytic",
    "q23_topk_per_group",
    "q27_math_funcs",
    "q29_array_funcs",
    "q31_json_funcs",
    "q32_hash_funcs",
    "q40_minhash_lsh_neardup",
    "q41_simhash",
    "q42_ngram_jaccard",
    "q105_kmeans_clusters",
    "q123_pagerank",
    "q127_session_concurrency",
    "q133_bm25_topk",
    "q140_triangle_count",
    "q142_shingle_containment",
    "q147_recursive_bfs",
    "q154_pareto_frontier",
    "q157_sorted_neighborhood",
    "q160_ohlc_bars",
    "q163_ahash_neardup",
    "q164_countmin_freq",
    "q168_volume_shipping",
    "q176_linear_interpolation",
    "q178_market_basket",
    "q183_stream_windowed_topk",
    "q187_rolling_hll_distinct",
    "q192_hll_intersection",
    "q196_daily_acf",
    "q203_holt_forecast",
    "q204_adamic_adar",
    "q209_profit_by_nation_year",
    "q211_embedding_covariance",
    "q216_equidepth_histogram",
    "q220_rfm_segments",
    "q229_spectral_dominant",
    "q231_audience_jaccard",
    "q239_markov_stationary",
    "q110_inverted_index",
    "q130_token_ids",
    "q137_key_skew_profile",
    "q182_decile_lift",
    "q198_auc_rank",
    "q226_vocab_coverage",
    "q232_gini_spend",
    "q233_ks_test",
    "q240_lorenz_curve",
    "q241_odds_ratio",
]


def load_calibration(here: str) -> dict | None:
    """Machine-readable drift calibration: tools/bench_calibrate.py re-runs
    the PREVIOUS round's end commit on today's machine and writes
    calibration.json; embedding it in the BENCH line lets the driver/judge
    separate code delta from machine drift (r6's 166.3s->190.2s rerun
    showed ~15% drift that raw round-over-round totals misread as
    regression). Vintage-checked: a calibration is only meaningful if it
    was produced against the NEWEST recorded bench round — a stale
    round-6 calibration.json left in the repo must not ride into round
    8+'s BENCH line and misstate the drift factor, so it is replaced by a
    machine-readable error marker instead."""
    calib_path = os.path.join(here, "calibration.json")
    if not os.path.exists(calib_path):
        return None
    try:
        with open(calib_path) as fh:
            calibration = json.load(fh)
    except (OSError, ValueError):
        return {"error": "calibration.json unreadable"}
    rounds = _bench_rounds(here)
    latest_round = rounds[-1][0] if rounds else None
    if latest_round is not None and calibration.get("prev_round") != latest_round:
        # Disambiguate "genuinely stale" from "this round's own calibration
        # after the driver captured BENCH_r{N}" (ADVICE r8): a round-N
        # calibration has prev_round=N-1, and once BENCH_rN.json lands any
        # within-round re-run would otherwise false-flag it. Both legs are
        # required: prev_round must be EXACTLY latest-1 (a round-N
        # calibration relative to a round-N artifact), AND the newest
        # BENCH artifact's embedded calibration block must carry the SAME
        # prev_commit (it is the very file that produced that line). The
        # prev_round leg stops the bypass self-perpetuating: without it, a
        # round that skips recalibration embeds the old prev_commit into
        # its own BENCH line, which would then vouch for the stale file in
        # every later round.
        embedded = _latest_bench_calibration(here, latest_round)
        same_round = (
            calibration.get("prev_round") == latest_round - 1
            and calibration.get("prev_commit") is not None
            and embedded is not None
            and embedded.get("prev_commit") == calibration.get("prev_commit")
        )
        if not same_round:
            return {
                "error": "calibration stale",
                "calibrated_against_round": calibration.get("prev_round"),
                "latest_bench_round": latest_round,
            }
    return calibration


def _bench_rounds(here: str) -> list[tuple[int, str]]:
    """(round, path) for every BENCH_r*.json, ascending by round number
    — the single directory scan load_calibration/compute_movers share."""
    rounds = []
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m:
            rounds.append((int(m.group(1)), p))
    return sorted(rounds)


def _latest_bench_calibration(here: str, latest_round: int) -> dict | None:
    """The calibration block embedded in BENCH_r{latest_round}.json's
    parsed line, or None if absent/unreadable.

    When the driver's capture truncated the line (``"parsed": null`` — the
    state of BENCH_r09.json), the calibration block usually still sits
    inside the raw 2000-char ``tail`` string because it rides near the END
    of the stdout line; regex it out so a truncated capture doesn't void
    the same-round vouching and false-flag a fresh calibration as stale
    (ADVICE r9: the stale marker then also discarded the measured drift
    factor in compute_movers)."""
    path = os.path.join(here, f"BENCH_r{latest_round:02d}.json")
    if not os.path.exists(path):
        path = os.path.join(here, f"BENCH_r{latest_round}.json")
    try:
        with open(path) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        return None
    parsed = data.get("parsed") or {}
    calib = parsed.get("calibration")
    if isinstance(calib, dict):
        return calib
    # Brace-counting parse, not a flat-brace regex: the stdout block is
    # flat today, but one nested field would make r'\{[^{}]*\}' silently
    # stop matching (ADVICE r10) — raw_decode consumes a full JSON value
    # at the offset regardless of nesting.
    tail = data.get("tail") or ""
    m = re.search(r'"calibration": ', tail)
    if m:
        try:
            obj, _ = json.JSONDecoder().raw_decode(tail, m.end())
        except ValueError:
            return None
        return obj if isinstance(obj, dict) else None
    return None


MOVER_THRESHOLD = 1.25

# Ratio alone over-flags sub-second queries: their per-stage fixed costs
# jitter by ±0.1-0.15 s, which is >25% of a 0.3 s query but means
# nothing (every r10-adjudicated sub-second "mover" — q36, q199, q114,
# q46, q48 — was this). A real regression must also move absolute time.
MOVER_MIN_ABS_S = 0.25

# Headline queries whose first draw exceeds this get a third run with the
# first discarded (see module docstring).
HEAVY_S = 1.5


def time_headline(run_once, heavy_s: float = HEAVY_S) -> tuple[float, int]:
    """(best_seconds, n_runs) for one headline query.

    ``run_once(i)`` executes the query and returns its wall-clock; ``i``
    is the run index (each draw is a `draw`, which starts from an empty
    stage memo, so each draw does the real work). Light queries (first
    draw <= heavy_s): best of 2. Heavy queries: 3 runs, min of ALL
    three — a slow GC/compilation outlier draw can't set the recorded
    time under min(), and discarding the first draw outright (the r10
    rule) biased heavy queries upward whenever draw 1 was the honest
    fastest (ADVICE r10: 1.6/1.9/2.0 recorded 1.9)."""
    t1 = run_once(0)
    t2 = run_once(1)
    if t1 > heavy_s:
        return min(t1, t2, run_once(2)), 3
    return min(t1, t2), 2


def compute_movers(
    timings: dict[str, float],
    here: str,
    calibration: dict | None,
    sf: float | str | None = None,
) -> list[dict]:
    """HEADLINE-query regression candidates vs the previous round's
    BENCH artifact, drift-adjusted (VERDICT r8 item 5): ratio = current
    / (prev_recorded x drift_factor); flag > MOVER_THRESHOLD. This turns
    SCALE.md attribution rows (q41 r8, q40 r9) into a machine-generated
    candidate list instead of judge greps. Coverage is the ~58-query
    headline set only — that is the per-query map BENCH artifacts
    persist (the stdout line; the full map lives in the unarchived
    bench_results.json), so non-headline queries have no cross-round
    baseline to compare against. Baseline = the NEWEST artifact whose
    parsed per-query map is non-empty: a truncated/`parsed: null`
    capture (the rounds-1-2 failure mode) must not silently disable the
    check when an older intact artifact exists. Empty when no usable
    artifact exists (round 1) — absence of a baseline is not a
    regression signal.

    Preferred baseline (VERDICT r9 item 4): a FRESH calibration carrying
    the full per-query map from tools/bench_calibrate.py's same-machine
    rerun of the previous round's end commit. That baseline covers all
    ~241 queries (not just the headline set that fits the BENCH stdout
    tail) and needs NO drift factor — the rerun happened on this round's
    machine, so drift is 1.0 by construction. Each mover row says which
    baseline produced it."""
    if (
        calibration
        and "error" not in calibration
        and isinstance(calibration.get("queries"), dict)
        and calibration["queries"]
        # The rerun map was timed at the calibration's SF — comparing a
        # local sf0.001 run against an sf0.1 baseline would be noise.
        and (sf is None or calibration.get("sf") == sf)
    ):
        return _movers_against(
            timings,
            calibration["queries"],
            drift=1.0,
            baseline=f"calibration_rerun(r{calibration.get('prev_round')})",
        )
    latest_round, prev_queries = None, {}
    for n, p in reversed(_bench_rounds(here)):
        try:
            with open(p) as fh:
                parsed = json.load(fh).get("parsed") or {}
        except (OSError, ValueError):
            continue
        queries = parsed.get("queries") or {}
        # Same-SF runs only: a local sf0.001 iteration loop must not be
        # compared against the driver's sf0.1 artifact (every ratio would
        # be meaningless). Artifacts that don't record sf stay eligible.
        if queries and (
            sf is None
            or parsed.get("sf") is None
            or parsed.get("sf") == sf
        ):
            latest_round, prev_queries = n, queries
            break
    # The drift factor maps "prev_round recorded" -> "today"; apply it
    # only when the movers baseline IS that round (after this round's
    # own BENCH artifact lands, a within-round re-run compares against
    # it and the right factor is 1.0, not last round's drift).
    drift = 1.0
    if calibration and "error" not in calibration:
        if calibration.get("prev_round") == latest_round:
            d = calibration.get("drift_factor")
            if isinstance(d, (int, float)) and d > 0:
                drift = float(d)
    return _movers_against(
        timings, prev_queries, drift, baseline=f"BENCH_r{latest_round}"
    )


# Minimum shared queries to estimate the CURRENT run's suite-wide
# machine state vs the baseline map. A code regression is path-specific;
# a uniform shift across hundreds of queries is load/thermal state (the
# r10 close drew the same code at 172.8 s and 193.4 s an hour apart,
# uniformly ~12% — six false movers). The suite median is robust to a
# handful of genuine regressions riding in the same run.
SUITE_RATIO_MIN_N = 20


def _movers_against(
    timings: dict[str, float],
    prev_queries: dict[str, float],
    drift: float,
    baseline: str,
) -> list[dict]:
    shared = [
        (name, prev_s)
        for name, prev_s in prev_queries.items()
        if isinstance(prev_s, (int, float))
        and prev_s > 0
        and timings.get(name) is not None
    ]
    suite = 1.0
    if len(shared) >= SUITE_RATIO_MIN_N:
        ratios = sorted(timings[n] / (p * drift) for n, p in shared)
        mid = len(ratios) // 2
        suite = (
            ratios[mid]
            if len(ratios) % 2
            else (ratios[mid - 1] + ratios[mid]) / 2
        )
    movers = []
    for name, prev_s in shared:
        cur_s = timings[name]
        base_s = prev_s * drift * suite
        ratio = cur_s / base_s
        if ratio > MOVER_THRESHOLD and cur_s - base_s >= MOVER_MIN_ABS_S:
            movers.append(
                {
                    "query": name,
                    "prev_s": round(prev_s, 4),
                    "cur_s": round(cur_s, 4),
                    # Exact baseline the flag compared against, recorded
                    # directly (ADVICE r12): adjudicate() previously
                    # reconstructed it as cur_s/drift_adj_ratio from two
                    # fields EACH rounded to 4dp, so near-threshold
                    # verdicts could flip vs the flag's true baseline.
                    "base_s": round(base_s, 6),
                    "drift_adj_ratio": round(ratio, 4),
                    "suite_med_ratio": round(suite, 4),
                    "baseline": baseline,
                }
            )
    movers.sort(key=lambda m: -m["drift_adj_ratio"])
    return movers


# Hard byte ceiling for the ONE stdout JSON line. The driver keeps only
# the LAST 2000 characters of captured output: BENCH_r09 and BENCH_r10
# both recorded ``parsed: null`` because the full 58-entry headline map
# plus a 31-name movers list overflowed that window and decapitated the
# JSON. 1800 leaves headroom for stray runtime warnings sharing stdout.
LINE_BUDGET_BYTES = 1800
LINE_MOVERS_MAX = 12


def compact_stdout_line(
    total: float,
    sf_val,
    timings: dict[str, float],
    headline_names: list[str],
    calibration: dict | None,
    movers: list[dict],
    budget: int = LINE_BUDGET_BYTES,
) -> dict:
    """The stdout line dict, GUARANTEED to serialize within ``budget``
    bytes: headline queries ride most-expensive-first and the cheapest
    entries are dropped until the line fits (``queries_shown`` <
    ``queries_total`` says so); the movers list carries at most
    LINE_MOVERS_MAX names plus a total count. The full per-query map,
    run counts, and mover detail always live in bench_results.json —
    this line exists so BENCH_r{N}.json's ``parsed`` is never null."""
    mover_names = [m["query"] for m in movers]
    base: dict = {
        "metric": "declared_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "queries": {},
        "sf": sf_val,
    }
    if calibration is not None:
        # ~140 bytes; rides the line so BENCH_r{N}.json captures it.
        if "error" in calibration:
            # Keep the error marker visible machine-readably — an
            # unreadable/stale file must not read as "present but empty".
            base["calibration"] = calibration
        else:
            base["calibration"] = {
                k: calibration.get(k)
                for k in ("prev_commit", "prev_recorded_s", "prev_rerun_s")
            }
    base["movers"] = mover_names[:LINE_MOVERS_MAX]
    if len(mover_names) > LINE_MOVERS_MAX:
        base["movers_total"] = len(mover_names)
    ordered = sorted(
        (n for n in headline_names if n in timings),
        key=lambda n: (-timings[n], n),
    )
    for shown in range(len(ordered), -1, -1):
        line = dict(base)
        line["queries"] = {n: timings[n] for n in ordered[:shown]}
        if shown < len(ordered):
            line["queries_shown"] = shown
            line["queries_total"] = len(ordered)
        if len(json.dumps(line)) <= budget:
            return line
    return line


# --adjudicate: warm re-run repeats per flagged mover. 5 draws matches
# the SCALE.md manual A/B protocol that adjudicated q41 (r8), q40 (r9)
# and q01 (r11) by hand; min-of-5 is robust to one GC/compilation draw.
ADJUDICATE_RUNS = 5

# Escalation before a `real` verdict sticks: some queries have a long
# JIT/codegen warm-up tail (q220 r13: draws kept descending through
# draw 8 and only plateaued ~1.75 s after five draws sat at ~2.4 s — a
# 5-draw min mislabeled pure warm-up as a 1.68x regression; the 12-draw
# back-to-back A/B vs the r11 worktree showed parity). A mover that
# still exceeds the gate after 5 draws gets ESCALATE_RUNS more; the
# verdict uses the min over ALL draws.
ADJUDICATE_ESCALATE_RUNS = 7


def execute(df) -> None:
    """The timed action: noop-sink write — computes every output column
    (protocol v2, see module docstring). count() is NOT equivalent:
    Catalyst prunes expressions nothing references and removes
    row-count-neutral operators under it."""
    df.write.format("noop").mode("overwrite").save()


def draw(spark, name: str, sf_dir: str) -> float:
    """One timed run of a declared query: empty the stage memo, then time
    building the query (eager stage checkpoints happen here) plus its
    noop-sink action. Seconds."""
    clear_stage_memo()
    t0 = time.perf_counter()
    execute(QUERIES[name](spark, sf_dir))
    return time.perf_counter() - t0


def adjudicate(here: str, names: list[str] | None = None) -> None:
    """Warm A/B re-run of the movers recorded by the LAST bench run
    (bench_results.json), so a regression like r11's q237 is caught and
    attributed in-round instead of by the judge (VERDICT r11 item 6).

    For each flagged mover: ADJUDICATE_RUNS warm `draw`s in a fresh
    session, min recorded. Verdict ``real`` if the warm min STILL
    exceeds the mover gate against the same drift/suite-adjusted
    baseline the flag used — i.e. the regression reproduces under the
    low-noise protocol — else ``noise``. Writes bench_adjudication.json and prints one JSON line.

    ``--adjudicate qA qB ...`` (r14): adjudicate the NAMED queries
    against the fresh calibration.json per-query map (drift 1.0 —
    same-machine rerun) instead of bench_results.json's mover list.
    Needed when the driver's round-end bench flagged movers but its
    bench_results.json was since overwritten by a local run — the
    BENCH_r{N}.json artifact keeps only mover NAMES."""
    path = os.path.join(here, "bench_results.json")
    try:
        with open(path) as fh:
            detail = json.load(fh)
    except (OSError, ValueError):
        print(json.dumps({"error": "bench_results.json missing/unreadable"}))
        sys.exit(1)
    movers = detail.get("movers") or []
    sf_val = detail.get("sf")
    if names:
        calib = load_calibration(here)
        if not (calib and isinstance(calib.get("queries"), dict)):
            print(json.dumps({"error": "named adjudication needs calibration.json with a per-query map"}))
            sys.exit(1)
        sf_val = calib.get("sf", sf_val)
        movers = []
        for n in names:
            base = calib["queries"].get(n)
            if not isinstance(base, (int, float)) or base <= 0:
                print(json.dumps({"error": f"{n}: no calibration baseline"}))
                sys.exit(1)
            movers.append(
                {
                    "query": n,
                    "base_s": base,
                    "drift_adj_ratio": None,
                    "baseline": f"calibration_rerun(r{calib.get('prev_round')})",
                }
            )
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", f"/root/testdata/sf{sf_val}"
    )
    out = {
        "sf": sf_val,
        "runs_per_mover": ADJUDICATE_RUNS,
        "verdicts": [],
    }
    if movers:
        spark = get_spark(app_name="hadoop_trans_spark_adjudicate")
        execute(QUERIES["q01_pricing_summary"](spark, sf_dir))  # warm-up
        for m in movers:
            name = m["query"]
            if name not in QUERIES:
                continue
            draws = [draw(spark, name, sf_dir) for _ in range(ADJUDICATE_RUNS)]
            # Prefer the directly-recorded baseline (ADVICE r12);
            # reconstruct from the rounded fields only for mover entries
            # written by pre-r13 bench versions.
            base_s = m.get("base_s") or (m["cur_s"] / m["drift_adj_ratio"])

            def _gate(ws: float) -> bool:
                return (
                    ws / base_s > MOVER_THRESHOLD
                    and ws - base_s >= MOVER_MIN_ABS_S
                )

            escalated = False
            if _gate(min(draws)):
                escalated = True
                draws += [
                    draw(spark, name, sf_dir)
                    for _ in range(ADJUDICATE_ESCALATE_RUNS)
                ]
            warm_min = min(draws)
            ratio = warm_min / base_s
            verdict = "real" if _gate(warm_min) else "noise"
            out["verdicts"].append(
                {
                    "query": name,
                    "flagged_ratio": m["drift_adj_ratio"],
                    "warm_min_s": round(warm_min, 4),
                    "warm_draws_s": [round(d, 4) for d in draws],
                    "baseline_s": round(base_s, 4),
                    "warm_adj_ratio": round(ratio, 4),
                    "escalated": escalated,
                    "verdict": verdict,
                }
            )
    with open(os.path.join(here, "bench_adjudication.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(
        json.dumps(
            {
                "adjudicated": len(out["verdicts"]),
                "real": [
                    v["query"] for v in out["verdicts"] if v["verdict"] == "real"
                ],
                "noise": [
                    v["query"] for v in out["verdicts"] if v["verdict"] == "noise"
                ],
            }
        )
    )


def write_snapshot(path: str, detail: dict) -> bool:
    """Write the per-round snapshot of the FULL per-query map.

    The stdout line fits ~40 of 259 queries and bench_results.json is
    overwritten by every local run, so ``bench_results_r{N}.json`` (N =
    latest BENCH round + 1, the round this run belongs to) persists the
    whole map for cross-round comparisons; commit it at round close.
    An existing snapshot taken at another sf is left alone (a one-line
    notice goes to stderr): a quick small-sf run must not replace the
    round's committed sf0.1 map. Returns whether the file was written."""
    if os.path.exists(path):
        try:
            with open(path) as fh:
                old_sf = json.load(fh).get("sf")
        except (OSError, ValueError, AttributeError):
            old_sf = None
        if old_sf != detail["sf"]:
            print(
                f"bench: kept {os.path.basename(path)} (sf {old_sf}); "
                f"this run's sf {detail['sf']} differs",
                file=sys.stderr,
            )
            return False
    with open(path, "w") as fh:
        json.dump(detail, fh, indent=1)
    return True


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    if "--adjudicate" in sys.argv[1:]:
        i = sys.argv.index("--adjudicate")
        adjudicate(here, names=[a for a in sys.argv[i + 1:] if a.startswith("q")])
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="hadoop_trans_spark_bench")

    # Warm up the JVM/codegen paths once (not timed).
    execute(QUERIES["q01_pricing_summary"](spark, sf_dir))

    names = [n for n in HEADLINE if n in QUERIES]
    extra = [n for n in sorted(QUERIES) if n not in names and n.startswith("q")]
    timings: dict[str, float] = {}
    runs: dict[str, int] = {}
    headline = set(names)
    for name in names + extra:
        if name in headline:
            best, n_runs = time_headline(lambda i: draw(spark, name, sf_dir))
        else:
            best, n_runs = draw(spark, name, sf_dir), 1
        timings[name] = round(best, 4)
        runs[name] = n_runs

    total = round(sum(timings.values()), 4)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    calibration = load_calibration(here)
    movers = compute_movers(timings, here, calibration, sf=sf_val)

    detail = {
        "metric": "declared_query_wall_clock_total",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "queries": timings,
        "runs_per_query": runs,
        "timing": "best_of_n_runs",
    }
    if calibration is not None:
        detail["calibration"] = calibration
    detail["movers"] = movers
    with open(os.path.join(here, "bench_results.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    rounds = _bench_rounds(here)
    cur_round = (rounds[-1][0] + 1) if rounds else 1
    write_snapshot(os.path.join(here, f"bench_results_r{cur_round}.json"), detail)

    print(
        json.dumps(
            compact_stdout_line(total, sf_val, timings, names, calibration, movers)
        )
    )


if __name__ == "__main__":
    main()
