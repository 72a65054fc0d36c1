"""Time a set of declared queries at one or more SF dirs (dev tool).

Prints per-query wall-clock at each SF and the growth factor between the
first and last SF — the number SCALE.md's growth tables cite. Timings use
the engine session and bench.py's noop-sink action (``bench.execute``).

Usage: python tools/time_queries.py q229 q230 ... [--sf sf0.001,sf0.1]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import execute  # noqa: E402 — v2 noop-sink action (match bench protocol)
from hadoop_trans_spark.queries import QUERIES  # noqa: E402
from hadoop_trans_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sfs = ["sf0.001", "sf0.1"]
    if "--sf" in args:
        i = args.index("--sf")
        sfs = args[i + 1].split(",")
        args = args[:i] + args[i + 2 :]
    prefixes = tuple(args)
    names = [n for n in QUERIES if n.startswith(prefixes)] if prefixes else list(QUERIES)
    spark = get_spark(app_name="time_queries")
    warm = sfs[0] if os.path.isabs(sfs[0]) else f"/root/testdata/{sfs[0]}"
    execute(QUERIES["q01_pricing_summary"](spark, warm))  # warm-up

    results: dict[str, list[float]] = {}
    for sf in sfs:
        # Absolute paths pass through (the replicate_facts 10x fixtures
        # live under /tmp); bare names resolve under /root/testdata.
        sf_dir = sf if os.path.isabs(sf) else f"/root/testdata/{sf}"
        for name in names:
            t0 = time.perf_counter()
            execute(QUERIES[name](spark, sf_dir))
            results.setdefault(name, []).append(time.perf_counter() - t0)

    print(f"{'query':42s} " + " ".join(f"{sf:>9s}" for sf in sfs) + "  growth")
    for name, ts in results.items():
        growth = ts[-1] / ts[0] if ts[0] > 0 else float("inf")
        print(
            f"{name:42s} "
            + " ".join(f"{t:9.2f}" for t in ts)
            + f"  {growth:5.1f}x"
        )


if __name__ == "__main__":
    main()
