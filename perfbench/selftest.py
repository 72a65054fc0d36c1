"""Self-test of the benchmark on a tiny fixture.

    python3 perfbench/selftest.py --data DIR

``DIR`` holds the repository's smallest test tables (``<table>.parquet``,
sf0.001). Each workload runs once untraced and once traced, from the
checkout root. The test asserts that every metric named in
BENCHMARK.json is printed, and that the tracer's call counts equal the
counts the fixture fixes in advance.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def run(workload: str, trace: int, data: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(SEED), "--seconds", "1",
        "--trace", str(trace), "--data", data,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0, result
    return result


def spans(workload: str) -> list[dict]:
    with open(os.path.join(ROOT, ".bench_out", f"{workload}-seed{SEED}.spans.jsonl")) as f:
        return [json.loads(line) for line in f]


def children_by_name(all_spans: list[dict], parent: dict) -> Counter:
    return Counter(s["name"] for s in all_spans if s["parent"] == parent["id"])


def check_pipelines(sp: list[dict]) -> None:
    migrates = [s for s in sp if s["name"] == "migrate"]
    compacts = [s for s in sp if s["name"] == "compact"]
    assert migrates and len(compacts) == len(migrates), "missing pipeline spans"
    for m in migrates:
        kids = children_by_name(sp, m)
        # One footer scan, one key enumeration, two partition listings
        # (source and destination) and one batched verify per call.
        assert kids["health.scan"] == 1, kids
        assert kids["migrate.enumerate"] == 1, kids
        assert kids["migrate.discover"] == 2, kids
        assert kids["verify"] == 1, kids
        scan = next(s for s in sp if s["parent"] == m["id"] and s["name"] == "health.scan")
        # Every copied month has four files; all of them are healthy.
        files = 4 * m["attrs"]["copied"]
        assert scan["attrs"] == {"files": files, "healthy": files}, scan
    for c in compacts:
        kids = children_by_name(sp, c)
        assert kids["compact.partition"] == c["attrs"]["partitions"], (kids, c)


def check_queries(sp: list[dict]) -> None:
    passes = [s for s in sp if s["name"] == "pass"]
    assert passes, "no traced passes"
    by_id = {s["id"]: s for s in sp}

    def pass_of(s: dict) -> int:
        while s["name"] != "pass":
            s = by_id[s["parent"]]
        return s["id"]

    stages = Counter(pass_of(s) for s in sp if s["name"] == "stage")
    # Per pass: the memoized supplier backbone once (q140 builds it,
    # q147 reuses it) and q147's own edge table.
    assert all(stages[p["id"]] == 2 for p in passes), stages
    for q in (s for s in sp if s["name"] == "query"):
        kids = children_by_name(sp, q)
        assert kids == Counter({"query.build": 1, "query.run": 1}), kids


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--data", required=True, help="directory of <table>.parquet test tables")
    data = os.path.abspath(ap.parse_args().data)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    end_to_end = {m["name"] for m in bench["end_to_end"]}
    per_layer = {m["name"] for m in bench["per_layer"]}
    checks = {"migrate_compact": check_pipelines, "query_suite": check_queries}
    assert set(checks) == {w["name"] for w in bench["workloads"]}
    for workload, check in checks.items():
        got = set(run(workload, 0, data)["metrics"])
        assert got == end_to_end, f"{workload}: {got ^ end_to_end}"
        got = set(run(workload, 1, data)["metrics"])
        assert got == per_layer, f"{workload}: {got ^ per_layer}"
        check(spans(workload))
        print(f"{workload}: ok", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
