"""Cold-JVM, driver-protocol query timer and A/B runner.

One invocation = ONE fresh process/JVM timing the named queries (prefix
match) under the bench protocol: engine session, q01 warm-up, every
draw a `bench.draw` (empty stage memo, build, noop-sink action), with
optional session-conf overrides so the SAME code can be timed under
different configurations. Prints one JSON line per sf: the min per
query (``queries``), every draw (``draws``), and the Spark jobs, stages
and tasks of the fastest draw (``jobs``).

Those counts are a cost record of one draw, not a plan fingerprint: AQE
can move them by a task between runs of the same tree (q254 at sf0.1
gave 16 and 17 tasks on unchanged code), so equal counts do not prove
an unchanged plan, nor unequal counts a changed one. Back a plan-identity
claim with ``tools/capture_plans.py`` instead.

The driver's bench is cold-JVM per round; warm in-session A/Bs cannot
see costs that only exist cold (codegen, first-touch, conf-dependent
planning), which is how the r14 SHJ conf shipped unproven. Launch this
repeatedly from a shell loop — each run is a fresh JVM:

  python tools/ab_cold.py q204 q209 --conf spark.sql.join.preferSortMergeJoin=true
  python tools/ab_cold.py q64 q63 --n 5
  python tools/ab_cold.py q229 --sf sf0.001,sf0.1

Flags:
  --sf sfX|/abs/path[,...]  data dir(s) (default sf0.1); a comma list
                            times every query at each, in order
  --conf k=v                extra session conf (repeatable; overrides
                            engine defaults — get_spark applies
                            extra_conf last)
  --label s                 echoed into the output line for bookkeeping
  --n N                     N draws per query, min reported; without it,
                            bench's headline rule (best of 2, a third
                            draw for heavy queries)
"""

from __future__ import annotations

import json
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import draw, execute, time_headline  # noqa: E402
from hadoop_trans_spark.queries import QUERIES  # noqa: E402
from hadoop_trans_spark.session import get_spark  # noqa: E402


def profiled_draw(spark, name: str, sf_dir: str) -> tuple[float, dict]:
    """One `bench.draw` under its own job group: (seconds, counts of the
    Spark jobs, stages and tasks it ran)."""
    sc = spark.sparkContext
    group = f"ab_cold_{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        wall = draw(spark, name, sf_dir)
    finally:
        # setJobGroup(None, None) passes None where PySpark declares str.
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = tracker.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return wall, {"jobs": len(job_ids), "stages": stages, "tasks": tasks}


def main() -> None:
    args = sys.argv[1:]
    sfs, label, n = ["sf0.1"], "", None
    conf: dict[str, str] = {}
    prefixes: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            sfs = args[i + 1].split(",")
            i += 2
        elif a == "--conf":
            k, _, v = args[i + 1].partition("=")
            conf[k] = v
            i += 2
        elif a == "--label":
            label = args[i + 1]
            i += 2
        elif a == "--n":
            n = int(args[i + 1])
            i += 2
        elif a.startswith("--"):
            raise SystemExit(f"unknown flag {a}\n\n{__doc__.strip()}")
        else:
            prefixes.append(a)
            i += 1
    if not prefixes:
        raise SystemExit(__doc__.strip())
    names = [q for q in QUERIES if q.startswith(tuple(prefixes))]
    if not names:
        raise SystemExit(f"no queries match prefixes {prefixes}")
    sf_dirs = [sf if os.path.isabs(sf) else f"/root/testdata/{sf}" for sf in sfs]

    spark = get_spark(app_name="ab_cold", extra_conf=conf or None)
    execute(QUERIES["q01_pricing_summary"](spark, sf_dirs[0]))  # warm-up

    for sf, sf_dir in zip(sfs, sf_dirs):
        timings: dict[str, float] = {}
        draws: dict[str, list[float]] = {}
        jobs: dict[str, dict] = {}
        for name in names:
            runs: list[tuple[float, dict]] = []

            def run_once(i: int) -> float:
                runs.append(profiled_draw(spark, name, sf_dir))
                return runs[-1][0]

            if n is None:
                time_headline(run_once)
            else:
                for k in range(n):
                    run_once(k)
            best, counts = min(runs, key=lambda r: r[0])
            timings[name] = round(best, 4)
            draws[name] = [round(w, 4) for w, _ in runs]
            jobs[name] = counts
        print(
            json.dumps(
                {
                    "label": label,
                    "conf": conf,
                    "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                    "sf": sf,
                    "queries": timings,
                    "draws": draws,
                    "jobs": jobs,
                    "total": round(sum(timings.values()), 4),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
