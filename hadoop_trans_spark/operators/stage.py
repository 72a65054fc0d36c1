"""Materialization of multi-consumer pipeline stages.

Several operators (MinHash shingles, SimHash fingerprints, dedup pair
tables, connected-components labels) compute an intermediate that two or
more downstream plan branches consume; without materialization each
branch recomputes the stage from the scan. Locally `localCheckpoint` is
the right tool: it stores the blocks on executor storage with no extra
I/O path to configure.

The 100 TB caveat (SCALE.md): executor-local blocks die with the
executor, and on a 1000-node cluster executor loss is routine — a lost
block fails the job and re-runs it from the start. For long-running
cluster jobs configure a RELIABLE checkpoint directory
(`sc.setCheckpointDir('hdfs://.../ckpt')` or an object-store path) and
these operators automatically upgrade to `df.checkpoint()` (HDFS-backed,
replicated, survives executor loss). The switch is automatic:
`materialize_stage` uses reliable checkpointing whenever a checkpoint
dir is set, unless explicitly overridden.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

def _input_partitions(df: DataFrame) -> int:
    """Partition count of `df`, memoized per (session, plan semanticHash).

    The RDD probe forces physical planning; most call sites probe the
    same handful of raw table scans (documents/lineitem), so one probe
    per distinct plan covers a whole bench run of every query. The cache
    lives ON the session object so it dies with the session (a global
    keyed on id(session) could collide after CPython id reuse, and a
    different master/parallelism can legitimately change the split
    count for the same plan). Staleness caveat: if the files behind an
    identical plan are rewritten mid-session the cached count survives
    — acceptable because every call site probes immutable input
    tables, never a path the engine itself rewrites.
    """
    session = df.sparkSession
    cache = getattr(session, "_ht_part_count_cache", None)
    if cache is None:
        cache = {}
        session._ht_part_count_cache = cache
    key = df.semanticHash()
    n = cache.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if len(cache) > 512:  # bound growth over a long-lived session
            cache.clear()
        cache[key] = n
    return n


def parallelize_stage(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition the input of a compute-heavy NARROW stage up to the
    session's default parallelism when its natural partitioning would
    leave most cores idle.

    A single small parquet file is ONE scan split no matter how many
    cores the cluster has (`maxPartitionBytes` splits large files, it
    cannot split a small one), so a per-row-expensive projection over it
    (md5 shingle hashing, signature computation, Arrow-batch decode)
    runs effectively single-threaded — measured 3.5 s → 0.5 s on the
    sf0.1 MinHash signature stage locally, and the identical failure
    mode on a 1000-executor cluster fed by a few consolidated files.
    The cost is one shuffle of the RAW rows; only worth it when the
    downstream per-row compute dominates that shuffle, which is exactly
    the shingle/signature/decode family this is applied to. Row results
    are per-row, so output is invariant to the re-partitioning (the
    repo's determinism contract, exercised by the local[5] full sweep).
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if _input_partitions(df) < target:
        return df.repartition(target)
    return df


def materialize_stage(df: DataFrame, reliable: bool | None = None) -> DataFrame:
    """Cut lineage and materialize `df` once for its multiple consumers.

    reliable=None (default): use a reliable `checkpoint()` iff the
    SparkContext has a checkpoint dir configured, else `localCheckpoint()`.
    Pass reliable=True/False to force either (True without a checkpoint
    dir raises, matching Spark's own error).
    """
    sc = df.sparkSession.sparkContext
    if reliable is None:
        reliable = sc.getCheckpointDir() is not None
    return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)


# Per-process memo for pipeline stages shared by several declared queries
# (MinHash pairs, SimHash fingerprints, the streaming late-batch staging
# dir). Values are whatever the build produced — a materialized DataFrame
# or a staged path. Keyed by Spark applicationId so a fresh session never
# sees a stale handle. Each timed draw starts from an empty memo (see
# clear_stage_memo).
_STAGE_CACHE: dict[tuple, object] = {}


def memo_stage(spark, sf_dir: str, tag: str, build, valid=None):
    """Return the memoized result of ``build()`` for (tag, session,
    sf_dir), computing it once per session. The builder decides what to
    memoize — a `materialize_stage`d DataFrame, a staged directory path —
    the memo only guarantees one build per session, the same "stage once
    for many consumers" rule lifted across queries.

    ``valid``, if given, re-checks a cached value on every hit and
    rebuilds (re-memoizing) when it returns False — used by stages whose
    value is a filesystem path that an external tmp reaper could remove
    mid-session (a vanished staging dir would otherwise stream as
    silently empty)."""
    app_id = spark.sparkContext.applicationId
    stale = [k for k in _STAGE_CACHE if k[1] != app_id]
    for k in stale:  # drop handles from dead sessions (their blocks are
        del _STAGE_CACHE[k]  # gone; holding the DataFrames leaks plans)
    key = (tag, app_id, sf_dir)
    if key in _STAGE_CACHE and valid is not None and not valid(_STAGE_CACHE[key]):
        del _STAGE_CACHE[key]
    if key not in _STAGE_CACHE:
        _STAGE_CACHE[key] = build()
    return _STAGE_CACHE[key]


def clear_stage_memo() -> None:
    """Drop every memoized stage handle. bench.draw calls it before each
    timed run, so each draw builds the stages its query reads instead of
    timing a memo hit (0.06 s vs 2.6 s at sf0.001 — a fake 40x) left by
    an earlier draw or by another query that shares the stage."""
    _STAGE_CACHE.clear()
