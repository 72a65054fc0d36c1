"""Regenerate the driver-sweep window (_SWEEP_PRIORITY) mechanically.

The round driver's CORRECTNESS sweep checks exactly the FIRST 50
registered queries, so the window in
``hadoop_trans_spark/queries/__init__.py`` must rotate every round.
Rounds 3 and 4 both staged the rotation as a comment and forgot to apply
it; this tool makes it one command:

    python tools/rotate_sweep.py          # refresh digests, rewrite window
    python tools/rotate_sweep.py --check  # exit 1 if either is stale

Priority rule (deterministic given CORRECTNESS_r*.json and
tools/query_digests.json):
  1. queries with NO driver CORRECTNESS row, in query-number order
     (oldest additions first — they've waited longest);
  2. queries whose latest driver row is a FAIL, oldest round first
     (a red must re-enter the window after its fix);
  3. queries whose code changed after their latest driver row: the
     existing green proves the OLD code, so they re-enter the window
     until a row from the change round or later lands (then the pin
     self-clears), oldest row first;
  4. queries with green rows, least-recently-checked round first,
     query-number tiebreak.

A query's digest is a sha256 over the ``ast.unparse`` text, docstrings
removed, of every package definition it reaches (tools/resolver.py, the
dead-code gate's resolver): comment, docstring and line-number edits pin
nothing; an edit to an operator or an oracle string pins exactly the
queries that reach it. tools/query_digests.json keeps ``{query: [digest,
round]}``; a new or changed digest gets the latest CORRECTNESS round on
disk + 1, and ``--check`` names the queries whose committed digest no
longer matches the code. Known limits: a definition no query reaches
pins nothing (the session confs in ``session.get_spark``), and a new
Python minor version may change ``ast.unparse`` text.

Run it at the START of a round, after the driver wrote the previous
round's CORRECTNESS_r{N}.json, and commit the rewritten files first.
"""

from __future__ import annotations

import ast
import copy
import hashlib
import json
import os
import re
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.resolver import DEFS, REPO, Package, query_name, references  # noqa: E402
from tools.update_coverage import driver_green, load_rounds  # noqa: E402

INIT = os.path.join(REPO, "hadoop_trans_spark", "queries", "__init__.py")
DIGESTS = os.path.join(REPO, "tools", "query_digests.json")
WINDOW = 50
BEGIN = "_SWEEP_PRIORITY = ["


def _without_docstrings(node: ast.stmt) -> ast.stmt:
    node = copy.deepcopy(node)
    for n in ast.walk(node):
        if isinstance(n, DEFS) and ast.get_docstring(n, clean=False) is not None:
            n.body = n.body[1:] or [ast.Pass()]
    return node


def query_digests(root: str = REPO) -> dict[str, str]:
    """Registered query name -> sha256 of the package definitions the
    query reaches (see the module docstring)."""
    pkg = Package(root)
    uses: dict[tuple, set] = {}
    for src in pkg.sources.values():
        for user, used in references(src, pkg):
            if user:
                uses.setdefault(user, set()).add(used)
    text = {
        k: "\n".join(ast.unparse(_without_docstrings(n)) for n in nodes)
        for k, nodes in pkg.defs.items()
    }
    digests = {}
    for key, nodes in pkg.defs.items():
        name = next(filter(None, map(query_name, nodes)), None)
        if not name:
            continue
        reach, todo = {key}, [key]
        while todo:
            for k in uses.get(todo.pop(), set()) - reach:
                reach.add(k)
                todo.append(k)
        h = hashlib.sha256()
        for k in sorted(reach):
            h.update(f"{k[0]}.{k[1]}\n{text[k]}\n".encode())
        digests[name] = h.hexdigest()
    return digests


def load_digests() -> dict[str, list]:
    """The committed ``{query: [digest, round]}``."""
    with open(DIGESTS) as fh:
        return json.load(fh)


def write_digests(digests: dict[str, list]) -> None:
    """One query per line, in query-number order, so a change diffs as
    the lines of the queries it pins."""
    lines = [
        f'  "{q}": {json.dumps(digests[q])}'
        for q in sorted(digests, key=lambda q: (qnum(q), q))
    ]
    with open(DIGESTS, "w") as fh:
        fh.write("{\n" + ",\n".join(lines) + "\n}\n")


def restamp(stored: dict[str, list], computed: dict[str, str], rnd: int) -> dict:
    """``computed`` digests with their rounds: a digest equal to the
    stored one keeps its round, a new or changed one gets ``rnd``."""
    return {
        q: [d, stored[q][1] if stored.get(q, [None])[0] == d else rnd]
        for q, d in computed.items()
    }


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
            last_ok[name] = driver_green(row)
    return last_round, last_ok


def priority_key(name: str, last_round: dict, last_ok: dict, pins: dict) -> tuple:
    """Window sort key — buckets: 0 never-checked, 1 latest-row-red,
    2 green-but-code-changed (row predates the query's digest round in
    ``pins``), 3 plain green oldest-round-first."""
    if name not in last_round:
        return (0, 0, qnum(name))  # never checked: oldest additions first
    if not last_ok[name]:
        return (1, last_round[name], qnum(name))  # latest row red
    if last_round[name] < pins.get(name, 0):
        # green, but the row proves the code before its change: re-prove next.
        return (2, last_round[name], qnum(name))
    return (3, last_round[name], qnum(name))  # green: oldest round first


def compute_window(
    digests: dict[str, list], exclude_rounds: frozenset = frozenset()
) -> list[str]:
    from hadoop_trans_spark.queries import QUERIES

    rounds = {
        r: rows
        for r, rows in load_rounds().items()
        if r not in exclude_rounds
    }
    last_round, last_ok = latest_status(rounds, set(QUERIES))
    pins = {q: rnd for q, (_, rnd) in digests.items()}
    ordered = sorted(
        QUERIES, key=lambda n: priority_key(n, last_round, last_ok, pins)
    )
    return ordered[:WINDOW]


def pending_rounds() -> frozenset:
    """Rounds whose CORRECTNESS file no commit has incorporated yet
    (untracked, or modified relative to HEAD). The driver drops
    ``CORRECTNESS_r{N}.json`` AFTER the last commit of a round, so the
    committed window is one rotation behind it: pending, not stale (the
    judge-time red of rounds 3, 4, 10, 11 and 12). Once a commit tracks
    the file, a window that ignores it is stale.
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
    computed = query_digests()
    if "--check" in sys.argv:
        digests = load_digests()
        stale = sorted(
            (
                q
                for q in computed.keys() | digests.keys()
                if digests.get(q, [None])[0] != computed.get(q)
            ),
            key=qnum,
        )
        if stale:
            print(
                "digests STALE — the code these queries reach changed "
                "since tools/query_digests.json was written; run "
                f"`python tools/rotate_sweep.py`: {stale}"
            )
            raise SystemExit(1)
        window = compute_window(digests)
        cur = current_window()
        if cur != window:
            pend = pending_rounds()
            if pend and cur == compute_window(digests, exclude_rounds=pend):
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

    rnd = max(load_rounds(), default=0) + 1
    digests = restamp(load_digests(), computed, rnd)
    write_digests(digests)
    # _SWEEP_PRIORITY is reached by no query, so rewriting it below
    # leaves every digest just written unchanged.
    window = compute_window(digests)
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
