"""Warm A/B timer: N repeats of named queries in one engine session
(the SCALE.md mover-adjudication protocol, mechanized). Prints min and
all draws per query.

Usage: python tools/ab_time.py q237 q196 [--sf sf0.1] [--n 5]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_trans_spark.operators.stage import clear_stage_memo  # noqa: E402
from hadoop_trans_spark.queries import QUERIES  # noqa: E402
from hadoop_trans_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sf, n = "sf0.1", 5
    if "--sf" in args:
        i = args.index("--sf")
        sf = args[i + 1]
        args = args[:i] + args[i + 2 :]
    if "--n" in args:
        i = args.index("--n")
        n = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    sf_dir = sf if os.path.isabs(sf) else f"/root/testdata/{sf}"
    if not args:
        # str.startswith(()) is always False — with no prefixes the tool
        # would warm up, print nothing, and exit 0 (ADVICE r12).
        raise SystemExit(__doc__.strip())
    names = [q for q in QUERIES if q.startswith(tuple(args))]
    if not names:
        raise SystemExit(f"no queries match prefixes {args}")
    from bench import MEMOIZED, execute  # v2 noop-sink action — match the protocol

    spark = get_spark(app_name="ab_time")
    execute(QUERIES["q01_pricing_summary"](spark, sf_dir))  # warm-up
    for name in names:
        draws = []
        for _ in range(n):
            # Without this every draw after the first times a memo hit.
            if name in MEMOIZED:
                clear_stage_memo(MEMOIZED[name])
            t0 = time.perf_counter()
            execute(QUERIES[name](spark, sf_dir))
            draws.append(time.perf_counter() - t0)
        print(
            f"{name}: min={min(draws):.3f}  "
            f"draws={['%.3f' % d for d in draws]}"
        )


if __name__ == "__main__":
    main()
