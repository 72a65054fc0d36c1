"""One-command round-start ritual (VERDICT r5 item 8).

Runs, in order:
  1. ``tools/rotate_sweep.py``    — refresh tools/query_digests.json and
     rewrite the 50-query driver window from the latest
     CORRECTNESS_r*.json history;
  2. ``tools/update_coverage.py`` — regenerate COVERAGE.md's per-query
     driver-history table from the same records;
  3. ``tools/rotate_sweep.py --check`` — confirm the committed window
     now matches the computed one (the staleness test's own check).

Usage:
  python tools/round_start.py           # apply rotation + regen coverage
  python tools/round_start.py --check   # validate only, exit 1 if stale

Run it as the FIRST commit of each round, right after the driver wrote
the previous round's CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import os
import subprocess
import sys

TOOLS = os.path.dirname(os.path.abspath(__file__))


def run(script: str, *args: str) -> None:
    cmd = [sys.executable, os.path.join(TOOLS, script), *args]
    r = subprocess.run(cmd)
    if r.returncode != 0:
        raise SystemExit(r.returncode)


def main() -> None:
    if "--check" in sys.argv:
        run("rotate_sweep.py", "--check")
        return
    run("rotate_sweep.py")
    run("update_coverage.py")
    run("rotate_sweep.py", "--check")
    print("round_start: window rotated, COVERAGE.md regenerated — commit both.")
    print(
        "next: python tools/bench_calibrate.py  (re-runs the previous "
        "round's end commit so this round's bench carries the machine-"
        "drift calibration)"
    )


if __name__ == "__main__":
    main()
