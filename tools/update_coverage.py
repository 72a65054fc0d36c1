"""Regenerate COVERAGE.md's per-query table from CORRECTNESS_r*.json.

The prose sections (round outcomes, next-window plan) stay hand-written;
everything below the ``## Per-query driver history`` marker is replaced
with a table compiled from the driver's own correctness records, so the
table can never drift from the facts again.

Usage: python tools/update_coverage.py
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARKER = "## Per-query driver history"

# Evidence notes for queries whose latest green driver row is a 0-row
# hash match (the empty case): where the NON-EMPTY behavior is proven.
ZERO_ROW_EVIDENCE = {
    "q222_key_sequence_gaps": (
        "clean fixture has no orderkey gaps by construction; non-empty "
        "case proven by tests/test_analytics_properties.py::"
        "test_key_gap_audit_finds_planted_gaps_exactly (keys 1..5000 with "
        "three cut ranges -> exact gap rows) and the clean==0 assertion "
        "beside it"
    ),
    "q243_confusable_skeleton_dedup": (
        "clean fixture is pure ASCII (no confusable clusters); "
        "non-empty case proven by tests/test_third_engine_dedup_text.py "
        "::test_confusable_skeleton_collapses_homoglyph_variants "
        "(hand-built Cyrillic-spoof/zero-width/case-variant corpus -> one "
        "cluster, n_raw_variants=3) and the r12 null_probe --mode=confuse sweep"
    ),
}


def load_rounds() -> dict[int, dict]:
    rounds: dict[int, dict] = {}
    for p in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m:
            continue
        with open(p) as fh:
            rounds[int(m.group(1))] = json.load(fh)
    return rounds


def driver_green(row: dict) -> bool:
    """A driver CORRECTNESS row is green when its output hash matched
    the oracle's, or its rows matched and the oracle returned none."""
    return bool(
        row.get("hash_match")
        or (row.get("rows_match") and row.get("oracle_rows") is None)
    )


def driver_history(rounds: dict[int, dict]) -> dict[str, list[tuple[int, str]]]:
    """``{query: [(round, "green" | "RED"), ...]}`` in round-number order
    (not filename order: an unpadded r10 would sort before r2)."""
    history: dict[str, list[tuple[int, str]]] = {}
    for rnd in sorted(rounds):
        for name, row in rounds[rnd].items():
            status = "green" if driver_green(row) else "RED"
            history.setdefault(name, []).append((rnd, status))
    return history


def third_engine_models(queries, tests_dir: str | None = None) -> dict[str, str]:
    """query name -> comma-joined third-engine test files MODELING it
    (the VERDICT r8 grep proxy, made a generated ledger column). A credit
    means the file re-derives (or directly pins) that query's output
    without the repo's SQL; absence means only the Spark↔DuckDB
    shared-SQL tiers cover it.

    Credit requires the FULL query name as a code token: a bare
    identifier or a non-docstring string constant (the form a model test
    uses to actually EXECUTE the query, e.g. ``QUERIES["q40_..."]`` or
    ``_rows(spark, dir, "q40_...")``). Prose mentions — docstrings and
    comments, including the short ``qNN`` form — never credit: ADVICE r9
    caught that a docstring saying "same shape as q40" in an unrelated
    test kept the ledger (and its tripwire) green for a query that was
    only name-dropped. A test that never runs the query doesn't model
    it."""
    import ast

    hits: dict[str, set] = {q: set() for q in queries}
    tests_dir = tests_dir or os.path.join(REPO, "tests")
    for p in sorted(glob.glob(os.path.join(tests_dir, "test_third_engine_*.py"))):
        with open(p) as fh:
            text = fh.read()
        tree = ast.parse(text)
        docstrings = set()
        for node in ast.walk(tree):
            if isinstance(
                node,
                (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
            ):
                body = getattr(node, "body", [])
                if (
                    body
                    and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)
                ):
                    docstrings.add(id(body[0].value))
        code_text = " ".join(
            [
                n.value
                for n in ast.walk(tree)
                if isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and id(n) not in docstrings
            ]
            + [n.id for n in ast.walk(tree) if isinstance(n, ast.Name)]
        )
        short = os.path.basename(p)[len("test_third_engine_"):-3]
        for q in queries:
            if re.search(rf"\b{q}\b", code_text):
                hits[q].add(short)
    return {q: ",".join(sorted(s)) for q, s in hits.items()}


def main() -> None:
    from hadoop_trans_spark.queries import QUERIES

    rounds = load_rounds()
    history = driver_history(rounds)

    t3 = third_engine_models(list(QUERIES))
    lines = [
        MARKER,
        "",
        "| # | query | driver rows | latest | third-engine |",
        "|---|---|---|---|---|",
    ]
    n_green = n_never = 0
    for i, name in enumerate(QUERIES, 1):
        h = history.get(name, [])
        if not h:
            n_never += 1
            cells = ("—", "never checked")
        else:
            if any(s == "green" for _, s in h):
                n_green += 1
            cells = (
                ", ".join(f"r{r}:{s}" for r, s in h),
                f"r{h[-1][0]} {h[-1][1]}",
            )
        lines.append(
            f"| {i} | {name} | {cells[0]} | {cells[1]} | {t3[name] or '—'} |"
        )
    orphans = sorted(set(history) - set(QUERIES))
    if orphans:
        lines += [
            "",
            "Orphan CORRECTNESS records (driver rows whose query name is "
            "no longer registered — renamed/removed queries; their history "
            "must not silently vanish):",
        ]
        lines += [
            f"- {name}: " + ", ".join(f"r{r}:{s}" for r, s in history[name])
            for name in orphans
        ]
    n_t3 = sum(1 for v in t3.values() if v)
    unmodeled = sorted(q for q, v in t3.items() if not v)
    lines += [
        "",
        f"Totals: {len(QUERIES)} declared — {n_green} ever-green, "
        f"{n_never} never driver-checked, "
        f"{len(QUERIES) - n_green - n_never} checked-but-never-green"
        + (f"; {len(orphans)} orphan record(s) listed above." if orphans else "."),
        "",
        f"Third-engine ledger: {n_t3}/{len(QUERIES)} queries have an "
        "independent non-SQL model in tests/test_third_engine_*.py"
        + (
            f"; without a model: {', '.join(unmodeled)}."
            if unmodeled
            else "; every declared query is modeled."
        ),
        "",
    ]

    # Latest-green vintage histogram: how stale is each query's newest
    # green driver row? The re-confirmation target is "no green older
    # than 3 rounds"; this section makes that checkable at a glance.
    latest_green: dict[str, int] = {}
    for name in QUERIES:
        greens = [r for r, s in history.get(name, []) if s == "green"]
        if greens:
            latest_green[name] = max(greens)
    if latest_green:
        newest = max(max(rounds), max(latest_green.values()))
        hist: dict[int, int] = {}
        for r in latest_green.values():
            hist[r] = hist.get(r, 0) + 1
        lines += [
            "## Latest-green vintage histogram",
            "",
            "| latest green round | queries | age (rounds) |",
            "|---|---|---|",
        ]
        lines += [
            f"| r{r} | {hist[r]} | {newest - r} |" for r in sorted(hist)
        ]
        over = sorted(
            n for n, r in latest_green.items() if newest - r > 3
        )
        lines += [
            "",
            f"Re-confirmation target: no green older than 3 rounds — "
            + (
                f"{len(over)} over target: " + ", ".join(over)
                if over
                else "met (0 over target)."
            ),
            "",
        ]

    # Zero-row driver evidence (VERDICT r12 item 4): a driver row that
    # hash-matched on ZERO rows proves only the empty case — the real
    # behavior must be carried by a non-empty canary or probe mode,
    # named here so the judge can check the evidence chain. A zero-row
    # query with no note is flagged loudly.
    zero_row = []
    for rnd in sorted(rounds):
        for name, row in rounds[rnd].items():
            if name in QUERIES and row.get("spark_rows") == 0 and row.get(
                "hash_match"
            ):
                zero_row.append(name)
    # keep only queries whose LATEST row is the zero-row one
    zero_latest = sorted(
        {
            n
            for n in zero_row
            if rounds[max(r for r, _ in history[n])][n].get("spark_rows") == 0
        }
    )
    if zero_latest:
        lines += ["## Zero-row driver evidence", ""]
        for n in zero_latest:
            note = ZERO_ROW_EVIDENCE.get(
                n, "NEEDS EVIDENCE — add a non-empty canary and note it here"
            )
            lines += [f"- {n}: {note}"]
        lines += [""]

    path = os.path.join(REPO, "COVERAGE.md")
    with open(path) as fh:
        head = fh.read().split(MARKER)[0].rstrip()
    with open(path, "w") as fh:
        fh.write(head + "\n\n" + "\n".join(lines))
    print(f"COVERAGE.md: {len(QUERIES)} queries, {n_green} ever-green, {n_never} never checked")


if __name__ == "__main__":
    main()
