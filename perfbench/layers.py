"""Per-layer metrics: which program functions the tracer wraps, and how
the recorded spans and Spark stages become the metrics BENCHMARK.json
lists under ``per_layer``. Every metric is reported for every workload
(0 where the workload does not use the layer) and, unless it is a
ratio, per traced pass."""

from __future__ import annotations

import importlib

from tracer import Span, Tracer, idle_time, spark_jobs, spark_stages, within
from workloads import QUERY_SUITE

MB = 1024 * 1024
FS_CALLS = ("exists", "list_dirs", "list_files", "rename", "delete")
SPARK_LAYERS = ("migrate", "health", "verify", "compact", "queries", "stage")


def install(tracer: Tracer) -> None:
    """Wrap the public functions of each traced layer."""
    # The pipelines package re-exports functions named like its modules
    # (``migrate``, ``verify``), so fetch the modules themselves.
    compact, fs, health, migrate, verify, stage = (
        importlib.import_module(f"hadoop_trans_spark.{m}")
        for m in (
            "pipelines.compact",
            "pipelines.fs",
            "pipelines.health",
            "pipelines.migrate",
            "pipelines.verify",
            "operators.stage",
        )
    )

    def count_files(sp, args, out):
        sp.attrs.update(files=len(args[1]), healthy=len(out[0]))

    def count_migrate(sp, args, out):
        sp.attrs.update(
            copied=len(out.copied),
            requested=len(out.copied) + len(out.conflicts) + len(out.skipped_missing),
        )

    def count_compact(sp, args, out):
        sp.attrs.update(
            compacted=len(out.compacted),
            partitions=len(out.compacted) + len(out.skipped) + len(out.failed),
        )

    for fn in FS_CALLS + ("qualify", "mkdirs"):
        tracer.patch(getattr(fs, fn), f"fs.{fn}")
    tracer.patch(health.scan_parquet_health, "health.scan", count_files)
    tracer.patch(health.data_files, "health.list")
    tracer.patch(verify.verify_partitions, "verify")
    tracer.patch(verify.verify, "verify")
    tracer.patch(migrate.enumerate_partition_keys, "migrate.enumerate")
    tracer.patch(migrate.discover_partitions, "migrate.discover")
    tracer.patch(migrate.migrate, "migrate", count_migrate)
    tracer.patch(compact._compact_partition, "compact.partition")
    tracer.patch(compact.compact_table, "compact", count_compact)
    tracer.patch(stage.materialize_stage, "stage")


def _outermost(tracer: Tracer, match) -> list[Span]:
    """Spans ``match`` accepts that no other accepted span encloses."""
    by_id = {s.id: s for s in tracer.spans}

    def nested(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if match(by_id[p]):
                return True
            p = by_id[p].parent
        return False

    return [s for s in tracer.spans if match(s) and not nested(s)]


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def metrics(tracer: Tracer, spark, since: float, passes: int, partitions: int) -> dict:
    """``{name: (value, unit)}`` over ``passes`` traced passes, each
    touching ``partitions`` partitions."""
    stages = spark_stages(spark, since)
    jobs = spark_jobs(spark, since)
    n = max(passes, 1)
    m: dict[str, tuple[float, str]] = {}

    def dur(spans) -> float:
        return sum(s.dur for s in spans) / n

    def stages_in(spans):
        return within(stages, spans, key=lambda s: s.submitted)

    def jobs_in(spans) -> int:
        return len(within(jobs, spans))

    named = tracer.named
    fs_calls = [s for s in tracer.spans if s.name in {f"fs.{f}" for f in FS_CALLS}]
    lists = [s for s in fs_calls if s.name in ("fs.list_dirs", "fs.list_files")]
    m["fs.calls"] = (len(fs_calls) / n, "count")
    m["fs.list_calls_per_partition"] = (_ratio(len(lists) / n, partitions), "ratio")
    # Summed over compact's worker threads, so it can exceed wall time.
    m["fs.s"] = (dur(_outermost(tracer, lambda s: s.name.startswith("fs."))), "s")

    scans = named("health.scan")
    health = scans + named("health.list")
    checked = sum(s.attrs.get("files", 0) for s in scans)
    m["health.files_checked"] = (checked / n, "count")
    m["health.healthy_ratio"] = (_ratio(sum(s.attrs.get("healthy", 0) for s in scans), checked), "ratio")
    m["health.s"] = (dur(health), "s")
    m["health.jobs"] = (jobs_in(health) / n, "count")

    mig = named("migrate")
    m["migrate.enumerate_s"] = (dur(named("migrate.enumerate")), "s")
    m["migrate.discover_s"] = (dur(named("migrate.discover")), "s")
    m["migrate.copy_s"] = (sum(tracer.self_time(s) for s in mig) / n, "s")
    m["migrate.jobs"] = (jobs_in(mig) / n, "count")
    m["migrate.output_mb"] = (sum(s.output_b for s in stages_in(mig)) / MB / n, "MB")
    m["migrate.copied_ratio"] = (
        _ratio(sum(s.attrs.get("copied", 0) for s in mig), sum(s.attrs.get("requested", 0) for s in mig)),
        "ratio",
    )

    ver = _outermost(tracer, lambda s: s.name == "verify")
    m["verify.s"] = (dur(ver), "s")
    m["verify.input_mb"] = (sum(s.input_b for s in stages_in(ver)) / MB / n, "MB")
    m["verify.shuffle_write_mb"] = (sum(s.shuffle_write_b for s in stages_in(ver)) / MB / n, "MB")

    comp = named("compact")
    compacted = sum(s.attrs.get("compacted", 0) for s in comp)
    m["compact.s"] = (dur(comp), "s")
    m["compact.jobs_per_partition"] = (_ratio(jobs_in(comp), compacted), "count")
    m["compact.output_mb"] = (sum(s.output_b for s in stages_in(comp)) / MB / n, "MB")
    m["compact.compacted_ratio"] = (
        _ratio(compacted, sum(s.attrs.get("partitions", 0) for s in comp)),
        "ratio",
    )

    queries = named("query")
    for name in QUERY_SUITE:
        q = [s for s in queries if s.attrs["query"] == name]
        kids = [c for s in q for c in tracer.children(s)]
        m[f"queries.{name}.build_s"] = (dur(c for c in kids if c.name == "query.build"), "s")
        m[f"queries.{name}.run_s"] = (dur(c for c in kids if c.name == "query.run"), "s")
        m[f"queries.{name}.jobs"] = (jobs_in(q) / n, "count")

    stage = _outermost(tracer, lambda s: s.name == "stage")
    m["stage.checkpoints"] = (len(named("stage")) / n, "count")
    m["stage.s"] = (dur(stage), "s")

    for layer, spans in zip(SPARK_LAYERS, (mig, health, ver, comp, queries, stage)):
        ss = stages_in(spans)
        m[f"{layer}.executor_run_s"] = (sum(s.run_s for s in ss) / n, "s")
        m[f"{layer}.executor_cpu_s"] = (sum(s.cpu_s for s in ss) / n, "s")
        m[f"{layer}.gc_s"] = (sum(s.gc_s for s in ss) / n, "s")
        m[f"{layer}.tasks"] = (sum(s.tasks for s in ss) / n, "count")
        m[f"{layer}.spill_mb"] = (sum(s.spill_b for s in ss) / MB / n, "MB")
        m[f"{layer}.driver_s"] = (idle_time(spans, ss) / n, "s")
    return m
