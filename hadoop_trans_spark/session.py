"""SparkSession factory.

One session per process; all engine defaults live here so no operator
hard-codes cluster constants (the reference hard-coded its warehouse root
and HDFS users in ``KeyConstant.java:21-27`` — we deliberately don't).

Scale notes (100 TB target):
  * AQE on: runtime shuffle-partition coalescing replaces hand-tuned
    ``spark.sql.shuffle.partitions`` on a real cluster (skew-join
    splitting is enabled too, but the SCALE.md round-9 probe measured it
    never firing in this build — skewed joins use operators/skew).
  * ``shuffle.partitions`` here is a local-mode default; AQE coalesces it
    down, and on a 1000-executor cluster you'd raise the initial value
    (AQE's ``initialPartitionNum``) instead of this.
  * Arrow enabled so the few pandas-UDF operators exchange columnar
    batches, not pickled rows.
  * Session timezone pinned UTC: required for DuckDB-oracle determinism
    and the only sane choice for a multi-tenant warehouse.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The 100 TB posture as ONE switch (SCALE.md describes the reasoning;
# this is where it is wired). Applied on top of the engine defaults by
# ``get_spark(profile="cluster")``:
#   * shuffle parallelism sized for ~1000 executors — AQE coalesces DOWN
#     from initialPartitionNum at runtime, so over-provisioning is cheap
#     and under-provisioning (giant spilling partitions) is the real risk;
#   * 256 MiB scan splits — fewer, fuller tasks against object storage;
#   * RocksDB state store — streaming state (sessions, dedup keys,
#     stream-stream join buffers) spills off-heap instead of living on
#     the executor heap;
#   * Spark's own bound on partition-listing tasks (10000) in place of
#     the local one-per-core bound: a cluster lists a 10k-dir table
#     with 10k tasks, not with the driver's core count.
CLUSTER_PROFILE: dict[str, str] = {
    "spark.sql.shuffle.partitions": "4096",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum": "4096",
    "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
    "spark.sql.sources.parallelPartitionDiscovery.parallelism": "10000",
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}

_PROFILES: dict[str, dict[str, str]] = {"local": {}, "cluster": CLUSTER_PROFILE}


def get_spark(
    app_name: str = "hadoop_trans_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str = "local",
) -> SparkSession:
    """Build (or reuse) the engine SparkSession with engine defaults.

    ``profile="cluster"`` layers :data:`CLUSTER_PROFILE` on top of the
    defaults (explicit ``shuffle_partitions`` / ``extra_conf`` still win).
    Confs only take effect when this call CREATES the session — Spark
    ignores builder confs when reusing a live one, as ever.
    """
    if profile not in _PROFILES:
        raise ValueError(
            f"unknown profile {profile!r}; expected one of {sorted(_PROFILES)}"
        )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        _PROFILES[profile].get("spark.sql.shuffle.partitions", cpus)
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # A table of more than 32 partition dirs is listed by a Spark
        # job; its default is one task per dir. Locally, one task per
        # core lists many dirs each, so a big table's listing costs as
        # many tasks as a small one's (the cluster profile restores
        # Spark's bound).
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Local mode: generous driver memory (single JVM holds everything).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r14 (guide §3.1/§9): allow shuffled-hash join where a per-
        # partition build side fits — skips both sort passes of
        # sort-merge. preferSortMergeJoin=false lets the planner pick
        # SHJ by its size conditions; the AQE threshold (sized with
        # autoBroadcastJoinThreshold) lets runtime stats rewrite an
        # already-planned SMJ to SHJ. Join outputs are set-equal under
        # any strategy; the repo's determinism conventions (decimal
        # sums, rounded staging grains, explicit orderBy) make results
        # bit-identical — proven by the strict sf0.1 engine-session
        # sweep. At 100 TB the same settings hold: SHJ is preferred
        # whenever the per-partition build side fits executor memory,
        # and the 64 MiB AQE threshold is conservative against that.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        # Parquet TIMESTAMP(NANOS) (events.ts) has no native Spark type;
        # read as long and convert in the catalog (DuckDB truncates to µs —
        # we match that exactly via integer division).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Catalog tables (bucketed layouts) live outside the source tree;
        # on a cluster this is the shared warehouse path instead.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/htspark_warehouse"),
        )
    )
    # Shuffle/blockmgr scratch SPLIT from ephemeral staging (r15,
    # VERDICT r14 item 2): staging/checkpoints stay on the RAM-backed
    # staging_base (fsync-bound, measured — see tmputil), but shuffle
    # scratch defaults to Spark's own disk-backed default; tmpfs spill
    # would consume the RAM that spilling exists to relieve (guide §5),
    # and the r15 cold A/B measured disk scratch at parity locally.
    # $SPARK_GRAFT_LOCAL_DIR points clusters at dedicated scratch disks.
    from .tmputil import shuffle_scratch_base

    scratch = shuffle_scratch_base()
    if scratch:
        builder = builder.config("spark.local.dir", scratch)
    merged = dict(_PROFILES[profile])
    merged.pop("spark.sql.shuffle.partitions", None)  # applied above
    merged.update(extra_conf or {})
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Python workers inherit the JVM's cwd, not this repo's location —
    # ship the package so worker-side references to module-level helpers
    # (and the Python DataSource class) import there regardless of where
    # the process was launched (runtime --py-files; see shipping.py).
    from .shipping import ship_package

    ship_package(spark)
    return spark
