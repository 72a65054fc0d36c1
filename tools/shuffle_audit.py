"""Measure per-query SHUFFLE VOLUME at 1x vs Nx data (dev tool).

pair_growth.py proves candidate COUNTS stay linear; this audit proves
the same for the bytes the cluster actually moves. For each audited
query it runs one `bench.draw` (empty stage memo, so the query's own
stage builds are counted; full noop-sink write, every output column
computed) and attributes stage metrics via a stage-id
watermark (queries run sequentially, so every stage completed after
the watermark belongs to the query), summing shuffle write bytes,
shuffle read bytes, and input bytes from the Spark REST status API.

Run against a base fixture and a replicated one
(tools/replicate_facts.py) and compare: a shuffle that grows faster
than the data is the 100 TB red flag no wall-clock number at sf0.01
can show (small-input noise hides it), and shuffle/input ratio shows
how much of what an operator reads it actually moves.

Usage:
  python tools/replicate_facts.py /root/testdata/sf0.01 /tmp/x8 8 --with-embeddings
  python tools/shuffle_audit.py /root/testdata/sf0.01 /tmp/x8 8

Caveat: events is NOT replicated by default (copy unchanged), so the
default audited set sticks to lineitem/orders/documents/embeddings
consumers. ``--events`` switches to the events-family set — pair it
with a replica built ``--with-events``.
"""

from __future__ import annotations

import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import draw  # noqa: E402
from hadoop_trans_spark.session import get_spark  # noqa: E402

# One per heavy family over replicable tables: relational join/agg,
# dedup (exact, MinHash, n-gram, containment, span find+remove,
# semantic), clustering, composed ANN, TPC-H silhouette.
AUDITED = [
    "q01_pricing_summary",
    "q05_revenue_by_nation",
    "q14_cube",
    "q18_dedup_keep_first",
    "q40_minhash_lsh_neardup",
    "q42_ngram_jaccard",
    "q64_dedup_canonical",
    "q105_kmeans_clusters",
    "q142_shingle_containment",
    "q209_profit_by_nation_year",
    "q249_semantic_dedup",
    "q252_span_dedup",
    "q253_ivfpq_ann",
    "q255_span_removal",
    "q256_ivfpq_residual_ann",
    "q257_incremental_span_dedup",
]

# Events-family set (user-keyed windows, sessionization, self-joins,
# iterative chains) — audited against a --with-events replica, where
# user_id AND event_id shift per copy so per-user state sees 8x users,
# not 8x duplicate rows.
AUDITED_EVENTS = [
    "q81_sessionize_batch",
    "q99_rolling_7day",
    "q100_cohort_retention",
    "q101_funnel_stages",
    "q106_event_transitions",
    "q127_session_concurrency",
    "q143_event_paths",
    "q187_rolling_hll_distinct",
    "q196_daily_acf",
    "q210_twap_per_user",
    "q217_transition_entropy",
    "q231_audience_jaccard",
    "q239_markov_stationary",
]


def _stages(ui: str) -> list[dict]:
    apps = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications", timeout=30)
    )
    app_id = apps[0]["id"]
    return json.load(
        urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete",
            timeout=30,
        )
    )


def measure(spark, sf_dir: str, audited: list[str]) -> dict[str, dict]:
    ui = spark.sparkContext.uiWebUrl
    out = {}
    for name in audited:
        seen = {s["stageId"] for s in _stages(ui)}
        draw(spark, name, sf_dir)
        mine = [s for s in _stages(ui) if s["stageId"] not in seen]
        out[name] = {
            "shuffle_write_mb": round(
                sum(s["shuffleWriteBytes"] for s in mine) / 1e6, 3
            ),
            "shuffle_read_mb": round(
                sum(s["shuffleReadBytes"] for s in mine) / 1e6, 3
            ),
            "input_mb": round(sum(s["inputBytes"] for s in mine) / 1e6, 3),
            "stages": len(mine),
        }
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if len(args) < 3:
        raise SystemExit(__doc__.strip().split("Usage:")[1])
    base_dir, repl_dir, factor = args[0], args[1], float(args[2])
    audited = AUDITED_EVENTS if "--events" in sys.argv else AUDITED
    # The engine session disables the UI; the status REST API rides on
    # it, so turn it on for this measurement session only.
    spark = get_spark(
        app_name="shuffle_audit",
        extra_conf={"spark.ui.enabled": "true"},
    )
    base = measure(spark, base_dir, audited)
    repl = measure(spark, repl_dir, audited)
    bad = []
    for name in audited:
        b, r = base[name], repl[name]
        w1, wn = b["shuffle_write_mb"], r["shuffle_write_mb"]
        growth = (wn / w1) if w1 else (float("inf") if wn else 1.0)
        # Linear gate mirrors pair_growth: factor x 1.5 headroom, with a
        # floor so sub-MB shuffles (fixed per-partition overheads
        # dominate) don't false-flag.
        ok = wn <= factor * 1.5 * max(w1, 0.25) + 1e-9
        row = {
            "query": name,
            "shuffle_write_mb_1x": w1,
            f"shuffle_write_mb_{factor:g}x": wn,
            "growth": round(growth, 2) if growth != float("inf") else "inf",
            "write_over_input_1x": round(
                w1 / b["input_mb"], 3
            ) if b["input_mb"] else None,
            "linear_ok": bool(ok),
        }
        if not ok:
            bad.append(name)
        print(json.dumps(row))
    print(
        f"\n=== SHUFFLE GROWTH === ops: {len(audited)}  factor: "
        f"{factor:g}x  superlinear: {len(bad)}"
        + (f"  ({','.join(bad)})" if bad else "")
    )
    if bad:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
