"""Streaming jobs over the ``events`` fixture (SURVEY §2B E37–E41).

Reference parity: the reference's only "continuous" behavior is re-running
``TransTablePartition`` (reference ``TransTablePartition.java:43``) on new
partitions; ``stream_migrate`` is that loop as a Structured Streaming
incremental append sink (E41).  The windowed/stateful operators are the
north-star streaming surface.

Scale notes (100 TB / 1000-executor design):

* File source discovery is incremental and driver-metadata-only; at scale
  the same jobs point at a Kafka source — nothing below depends on the
  source being files except ``read_events_stream``.
* All stateful operators (windows, sessions, dedup) bound their state via
  watermarks; at scale set the RocksDB state store provider
  (``spark.sql.streaming.stateStore.providerClass``) so state spills off
  the executor heap.
* Every windowed aggregation runs in ``append`` mode: a window is emitted
  exactly once, when the watermark passes its end, and its state is then
  dropped — bounded state on an infinite stream. (``complete`` mode would
  retain every window ever seen — a scale-killer.)  Spark's no-data
  micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``, default
  on) runs after the last data batch and flushes the finalized windows, so
  ``availableNow`` runs still terminate with deterministic append output.
"""

from __future__ import annotations

import contextlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from hadoop_trans_spark.catalog import normalize_event_ts
from ..tmputil import staging_dir


def _dsum():
    from ..queries.base import dsum  # deferred: circular-import guard

    return dsum


def _dterm():
    from ..queries.base import dterm  # deferred: circular-import guard

    return dterm


def events_stream_schema(spark: SparkSession, sf_dir: str) -> StructType:
    """Stream schema for events.parquet, matched to the file's actual ts
    layout (the driver has shipped both TIMESTAMP(NANOS)-as-long and
    TIMESTAMP(MICROS)/NTZ across rounds — a mismatched user-supplied
    stream schema fails the parquet column conversion). One batch footer
    probe; normalize_event_ts then converts either layout to a UTC
    TIMESTAMP instant (see catalog)."""
    # Footer probe honors the same layout flexibility as the stream
    # glob: a staged dir (tools/stream_probe.py) holds events_000…, the
    # fixture holds events.parquet — pathGlobFilter resolves both.
    dtype = dict(
        spark.read.option("pathGlobFilter", "events*.parquet")
        .parquet(sf_dir)
        .dtypes
    ).get("ts")
    ts_type = LongType() if dtype == "bigint" else TimestampNTZType()
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    glob: str = "events*.parquet",
) -> DataFrame:
    """events.parquet as a stream (file source needs a dir → glob filter).

    The default glob keeps the other fixture tables out of the stream
    (no table name besides ``events`` starts with "events") while also
    matching multi-file staged layouts (``events_000.parquet``, …) —
    how tools/stream_probe.py feeds the same jobs in several
    micro-batches with a stop/resume between them. Continuous-arrival
    sources (a real migrate loop watching a landing dir) pass their own
    glob."""
    reader = (
        spark.readStream.schema(events_stream_schema(spark, sf_dir))
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(sf_dir)
    return normalize_event_ts(df)


@contextlib.contextmanager
def _pinned_state_partitions(spark: SparkSession, n: int = 4):
    """Pin ``spark.sql.shuffle.partitions`` low while a streaming query
    starts: each stateful operator materializes one state store per
    shuffle partition per micro-batch — pure overhead at fixture scale
    (a cluster job raises it; the value is baked into the checkpoint at
    first start, so it must wrap ``start()``, not just plan building).
    Queries here run sequentially with fresh checkpoints, so the
    save/restore is race-free."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_memory(
    sdf: DataFrame, output_mode: str, timeout_sec: int = 300
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink.

    ``availableNow`` processes every currently-available file then stops,
    so the returned (batch) DataFrame is the deterministic final state.

    The state-partition count is pinned low for the fixture runs: each
    stateful operator materializes one state store per shuffle partition
    per micro-batch, pure overhead at local scale (a cluster job raises
    it; the value is baked into the checkpoint at first start).
    """
    spark = sdf.sparkSession
    name = f"sink_{uuid.uuid4().hex}"
    with _pinned_state_partitions(spark):
        query = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .option("checkpointLocation", staging_dir("ckpt_"))
            .start()
        )
        finished = query.awaitTermination(timeout_sec)
        if not finished:
            # Never return a partially-populated sink: stop and fail loudly.
            query.stop()
            raise TimeoutError(
                f"streaming query {name} did not finish in {timeout_sec}s"
            )
    return spark.table(name)


def watermarked(df: DataFrame, col: str = "ts", delay: str = "10 minutes") -> DataFrame:
    """Valid-event-time-domain filter + watermark, applied together.

    Spark's event-time watermark is ZERO-INITIALIZED (epoch 0), so a
    pre-epoch event time is structurally late in the very first batch —
    dropped by windowed aggregates (window end <= initial watermark),
    dedup state, and join state, while a batch oracle over the same
    parquet keeps the rows (r11 time probe: 10 watermarked queries
    diverged on one injected 1969 timestamp). Event times outside the
    engine's valid domain (queries.base TS_LO/TS_HI) are therefore
    excluded AT the watermark boundary, symmetric with the oracles'
    O_TS_DOMAIN predicate; unwatermarked passthroughs (migrate/upsert)
    keep every row."""
    from ..queries.base import ts_in_domain  # deferred: avoids a
    # circular import (queries/__init__ registers queries.streaming,
    # which imports this module)

    return df.where(ts_in_domain(col)).withWatermark(col, delay)


# --- E37: tumbling / sliding windows ----------------------------------------


def tumbling_counts(stream: DataFrame, size: str = "1 hour") -> DataFrame:
    """Per-window, per-type counts + exact value sums (tumbling)."""
    return (
        watermarked(stream)
        .groupBy(F.window("ts", size), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            _dsum()("value").alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(
    stream: DataFrame, size: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Overlapping-window counts; each event lands in size/slide windows."""
    return (
        watermarked(stream)
        .groupBy(F.window("ts", size, slide), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def chained_windowed_rollup(
    stream: DataFrame, fine: str = "15 minutes", coarse: str = "1 hour"
) -> DataFrame:
    """Two chained stateful aggregations in ONE streaming query (Spark
    3.5+ multiple-stateful-operator support): per-(fine window, user)
    counts roll up into per-coarse-window activity stats without landing
    the intermediate anywhere. The second groupBy re-windows on
    window_time() of the first — the documented chaining contract; the
    propagated watermark finalizes a coarse window only after every fine
    sub-window inside it has been emitted upstream, so append output is
    deterministic. State is bounded at (open fine windows × active
    users) + open coarse windows; both drop on watermark pass."""
    fine_counts = (
        watermarked(stream)
        .groupBy(F.window("ts", fine), "user_id")
        .agg(F.count("*").alias("c"))
    )
    return (
        fine_counts.groupBy(F.window(F.window_time("window"), coarse))
        .agg(
            F.sum("c").alias("n_events"),
            F.count("*").alias("n_user_slots"),
            F.max("c").alias("max_burst"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start"),
            "n_events",
            "n_user_slots",
            "max_burst",
        )
    )


# --- E38: session windows ----------------------------------------------------


def session_windows(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user sessions: events merge while consecutive gaps < gap.

    Spark's ``session_window`` end is ``last event ts + gap``; the DuckDB
    oracle reproduces that with a lag/cumulative-flag islands query.
    """
    return (
        watermarked(stream)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start"),
            F.unix_micros(F.col("session_window.end")).alias("session_end"),
            "n_events",
        )
    )


# --- stream-stream interval join ----------------------------------------------


def stream_stream_join(
    spark: SparkSession, sf_dir: str, lookback: str = "30 minutes"
) -> DataFrame:
    """Attribute each click to the views it followed within ``lookback``
    (same user) — a stream-stream inner join with an event-time range
    condition.

    Both sides carry watermarks, and the range predicate bounds how long
    a view must be buffered (watermark + lookback) — Spark evicts join
    state past that horizon, so state is bounded on an infinite stream.
    This is the streaming form of the as-of/attribution join (E12); at
    100 TB the join key (user_id) partitions both sides' state stores.
    """
    clicks = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .transform(lambda d: watermarked(d, "click_ts"))
    )
    views = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .transform(lambda d: watermarked(d, "view_ts"))
    )
    return clicks.join(
        views,
        F.expr(
            f"c_user = v_user AND view_ts >= click_ts - interval {lookback} "
            "AND view_ts <= click_ts"
        ),
        "inner",
    ).select(
        "click_id",
        "view_id",
        F.col("c_user").alias("user_id"),
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("view_ts").alias("view_us"),
    )


def stream_stream_left_join(
    spark: SparkSession, sf_dir: str, lookback: str = "30 minutes"
) -> DataFrame:
    """Left-outer stream-stream join: every click, matched to prior views
    within ``lookback`` or emitted NULL-padded once the watermark proves
    no match can arrive. The outer semantics are what make attribution
    complete (clicks with no preceding view are the interesting rows);
    Spark buffers the click until the view-side watermark passes its
    event time, then emits the null row and drops the state — bounded
    state with a deterministic emission rule, which is exactly what the
    batch oracle reproduces (matched rows + unmatched clicks older than
    the final watermark)."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .transform(lambda d: watermarked(d, "click_ts"))
    )
    views = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .transform(lambda d: watermarked(d, "view_ts"))
    )
    return clicks.join(
        views,
        F.expr(
            f"c_user = v_user AND view_ts >= click_ts - interval {lookback} "
            "AND view_ts <= click_ts"
        ),
        "left_outer",
    ).select(
        "click_id",
        F.col("c_user").alias("user_id"),
        F.unix_micros("click_ts").alias("click_us"),
        "view_id",
        F.unix_micros("view_ts").alias("view_us"),
    )


def stream_stream_full_outer_join(
    spark: SparkSession, sf_dir: str, lookback: str = "30 minutes"
) -> DataFrame:
    """Full-outer stream-stream join: matched click/view pairs emit
    immediately; unmatched rows on EITHER side emit NULL-padded once
    the watermark proves no partner can still arrive. The asymmetric
    range condition gives each side its own state horizon — a click
    waits on views in [click_ts - lookback, click_ts] so it expires
    when the watermark passes click_ts; a view waits on clicks in
    [view_ts, view_ts + lookback] so it expires lookback later. Both
    horizons are bounded, so state never grows on an infinite stream;
    user_id partitions both state stores at scale."""
    clicks = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .transform(lambda d: watermarked(d, "click_ts"))
    )
    views = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .transform(lambda d: watermarked(d, "view_ts"))
    )
    return clicks.join(
        views,
        F.expr(
            f"c_user = v_user AND view_ts >= click_ts - interval {lookback} "
            "AND view_ts <= click_ts"
        ),
        "full_outer",
    ).select(
        "click_id",
        F.coalesce("c_user", "v_user").alias("user_id"),
        F.unix_micros("click_ts").alias("click_us"),
        "view_id",
        F.unix_micros("view_ts").alias("view_us"),
    )


# --- stream-static join --------------------------------------------------------


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich the event stream with a static dimension table (broadcast) —
    the stateless streaming join: the dim side is re-planned per
    micro-batch (picking up dim updates between batches), no state store
    is involved, and broadcasting keeps the stream side shuffle-free.
    The 100 TB rule: stream-static joins are the default enrichment path;
    stream-stream joins only where BOTH sides are genuinely unbounded."""
    from pyspark.sql import functions as F2

    from ..catalog import table

    stream = read_events_stream(spark, sf_dir)
    dim = table(spark, sf_dir, "customer").where(F2.col("c_custkey") <= 150)
    return stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey, "inner"
    ).select("event_id", "user_id", "event_type", "value", "c_mktsegment")


# --- foreachBatch upsert sink ---------------------------------------------------


def stream_upsert_sink(
    spark: SparkSession, sf_dir: str, dest: str | None = None
) -> str:
    """Continuously upsert micro-batches into a parquet target by key —
    the foreachBatch MERGE pattern (the standard way Structured Streaming
    maintains a keyed table in a sink without native MERGE support).

    The fixture stages the events file TWICE (two micro-batches with
    identical keys), so every key is inserted once and updated once; the
    target converges to exactly one row per event_id. Each batch:
    dedup-within-batch → merge_upsert onto the current target →
    materialize → atomic overwrite. On a real lakehouse the
    read-merge-overwrite becomes a table-format MERGE (Iceberg/Delta);
    the batch-side plan is identical."""
    import shutil

    from ..operators.merge import merge_upsert
    from ..operators.stage import materialize_stage

    base = staging_dir("stream_upsert_")
    stage, dest = f"{base}/stage", dest or f"{base}/target"
    os.makedirs(stage)
    src = f"{sf_dir}/events.parquet"
    for i in range(2):
        shutil.copyfile(src, f"{stage}/events_{i}.parquet")
        os.utime(f"{stage}/events_{i}.parquet", (1_000_000_000 + i, 1_000_000_000 + i))

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        local = bdf.sparkSession
        batch = bdf.dropDuplicates(["event_id"])
        if os.path.exists(f"{dest}/_SUCCESS"):
            target = local.read.parquet(dest)
            merged = merge_upsert(target, batch, keys=["event_id"])
        else:
            merged = batch
        # Materialize BEFORE overwriting the directory being read.
        materialize_stage(merged).write.mode("overwrite").parquet(dest)

    stream = (
        spark.readStream.schema(events_stream_schema(spark, sf_dir))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(stage)
    )
    stream = normalize_event_ts(stream)
    with _pinned_state_partitions(spark):
        query = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", staging_dir("ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        if not query.awaitTermination(300):
            query.stop()
            raise TimeoutError("stream_upsert_sink did not finish in 300s")
    return dest


# --- E40: stateful dedup over a stream ---------------------------------------


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate the stream (union of two sources) then drop dups by key.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only for the
    watermark horizon — bounded state at 100 TB, unlike a global distinct.
    """
    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    return (
        a.unionByName(b)
        .transform(lambda d: watermarked(d, "ts", "1 hour"))
        .dropDuplicatesWithinWatermark(["event_id"])
    )


# --- E41: incremental append sink (continuous migrate) ------------------------


def stream_migrate(
    spark: SparkSession,
    sf_dir: str,
    dest: str | None = None,
    checkpoint: str | None = None,
    glob: str = "events.parquet",
) -> str:
    """Continuously append new source files into a parquet destination.

    The Structured-Streaming re-expression of the reference's migrate loop
    (reference ``TransTablePartition.java:115-140``): the file-source log
    replaces the manual "does dest partition exist" bookkeeping (reference
    ``TransTablePartition.java:126-131``) — each input file is processed
    exactly once, restarts resume from the checkpoint.

    ``checkpoint`` is the resume identity: a production deployment MUST
    pass a stable directory and reuse it together with ``dest`` on every
    (re)run — the file-source log inside it is what makes a restart pick
    up only files it has not yet committed. Left as None (fixture runs),
    a fresh tempdir is minted and the run processes everything once.
    """
    dest = dest or staging_dir("stream_migrate_")
    checkpoint = checkpoint or staging_dir("ckpt_")
    stream = read_events_stream(spark, sf_dir, glob=glob)
    query = (
        stream.writeStream.format("parquet")
        .option("path", dest)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(300)
    return dest


# --- custom stateful operator: applyInPandasWithState -------------------------


def user_streaks_updates(
    stream: DataFrame, gap_seconds: int = 600
) -> DataFrame:
    """The applyInPandasWithState UPDATE stream behind ``user_streaks``
    (exposed separately so the restart probe — tools/stream_probe.py —
    can drive it across a checkpoint stop/resume boundary)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key: tuple, pdfs, state: GroupState):
        parts = [pdf[["ts"]] for pdf in pdfs]
        df = pd.concat(parts).sort_values("ts")
        if state.exists:
            n, cur, best, last_us = state.get
        else:
            n, cur, best, last_us = 0, 0, 0, None
        for ts in df["ts"]:
            us = int(ts.value // 1000)  # pandas ns → µs
            if last_us is not None and us - last_us < gap_seconds * 1_000_000:
                cur += 1
            else:
                cur = 1
            best = max(best, cur)
            last_us = us
            n += 1
        state.update((n, cur, best, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_streak": [best],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        track,
        "user_id long, n_events long, max_streak long",
        "n long, cur long, best long, last_us long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def user_streaks(
    spark: SparkSession, sf_dir: str, gap_seconds: int = 600
) -> DataFrame:
    """Per-user activity streaks via a CUSTOM stateful operator.

    A streak is a maximal run of events where each inter-arrival gap is
    < ``gap_seconds``. This is the `applyInPandasWithState` surface for
    stateful logic Spark's built-in windows can't express (the operator
    tracks (event_count, current_streak, longest_streak, last_ts) across
    micro-batches; state is per-key and watermark/timeout-evictable at
    scale — here NoTimeout since the fixture is finite).

    Returns the final (user_id, n_events, max_streak) per user.
    """
    updates = user_streaks_updates(
        read_events_stream(spark, sf_dir), gap_seconds
    )
    final = run_to_memory(updates, "update")
    # update mode re-emits a key's row each batch it changes; counters are
    # monotone, so the max per key is the final state.
    return final.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_streak").alias("max_streak"),
    )


# --- E39: watermark late-data drop -------------------------------------------


def _stage_late_batches(
    spark: SparkSession, sf_dir: str, late_mod: int
) -> DataFrame:
    """Shared three-micro-batch staging for the watermark-semantics jobs
    (``late_data_drop``, ``stream_windowed_topk``): two on-time files,
    then the held-back rows (``event_id % late_mod == 0``). The q59 and
    q183 oracles BOTH re-derive the on-time subset from this exact
    %late_mod / %13 split — one copy of the construction keeps the two
    streams and their oracles synchronized by definition.

    ONE partitioned write stages all three batch files; distinct mtimes
    then fix the file-source processing order (``maxFilesPerTrigger=1``).
    The staged DIRECTORY is memoized per (session, sf_dir): q59 and q183
    read the identical staging, and the files are immutable once written
    — each caller still starts its own streaming query with a fresh
    checkpoint over them (each timed draw starts from an empty memo,
    bench.draw).
    """
    from ..catalog import table
    from ..operators.stage import memo_stage

    def _build() -> str:
        stage = staging_dir("late_stage_")
        events = table(spark, sf_dir, "events")
        batch = (
            F.when(F.col("event_id") % late_mod == 0, F.lit(2))
            .when(F.col("event_id") % 13 == 0, F.lit(1))
            .otherwise(F.lit(0))
        )
        (
            events.withColumn("batch", batch)
            .repartition("batch")
            .write.mode("overwrite")
            .partitionBy("batch")
            .parquet(stage)
        )
        t0 = 1_000_000_000
        for i in range(3):
            # An empty (or partially empty) events shard writes no dir
            # for batches with zero rows — partitionBy only materializes
            # non-empty partitions. The stream read declares its schema
            # explicitly, so missing files just mean fewer micro-batches
            # (empty-input probe find, r10).
            bdir = f"{stage}/batch={i}"
            if not os.path.isdir(bdir):
                continue
            for f in os.listdir(bdir):
                os.utime(f"{bdir}/{f}", (t0 + i * 100, t0 + i * 100))
        return stage

    # valid= guards the memo hit: the value is a tempdir path, and a tmp
    # reaper (or manual cleanup) removing it mid-session would otherwise
    # make q59/q183 stream from a missing dir instead of rebuilding.
    stage = memo_stage(
        spark, sf_dir, f"late_stage_{late_mod}", _build, valid=os.path.isdir
    )
    events = table(spark, sf_dir, "events")
    return (
        spark.readStream.schema(
            StructType([f for f in events.schema.fields])
        )
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )


def late_data_drop(
    spark: SparkSession,
    sf_dir: str,
    delay: str = "10 minutes",
    late_mod: int = 997,
) -> DataFrame:
    """Append-mode tumbling count demonstrating watermark semantics.

    Stages events into three files processed as separate micro-batches
    (``maxFilesPerTrigger=1``, mtime-ordered): two on-time files, then the
    held-back rows (``event_id % late_mod == 0``).  The late-record filter
    uses the watermark *announced by the previous batch* (measured on
    Spark 4.1: data from batch N sets the filter watermark of batch N+2),
    so the middle batch ensures ``max(batch0 ts) - delay`` is in force
    when the late file arrives — its rows, months older, are dropped, and
    append mode emits exactly the windows whose end precedes the final
    watermark ``max(on-time ts) - delay``.  Deterministic → reproducible
    by a batch oracle over the on-time subset.
    """
    stream = _stage_late_batches(spark, sf_dir, late_mod)
    agg = (
        watermarked(stream, "ts", delay)
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start"),
            "n_events",
        )
    )
    return run_to_memory(agg, "append")


def stream_windowed_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    delay: str = "10 minutes",
    late_mod: int = 997,
) -> str:
    """Per-window top-k event types maintained by a streaming pipeline:
    append-mode tumbling counts (same staging + watermark construction
    as ``late_data_drop`` — two on-time micro-batches, one late batch
    whose rows are dropped), then a ``foreachBatch`` sink RANKS each
    finalized window and appends only its top-k rows to the target.

    Ranking inside foreachBatch is correct because append mode emits a
    window exactly once and in full (all its groups in one batch) when
    the watermark passes its end — so a per-batch window-partitioned
    row_number is a per-WINDOW global rank. This is the standard
    leaderboard/dashboard sink: the unbounded ranking Structured
    Streaming cannot express as a stateful operator runs batch-side on
    finalized, bounded data. State at 100 TB: the windowed count agg
    keeps one row per (open window × type); the rank sees only one
    window's types at a time."""
    from pyspark.sql.window import Window

    dest = staging_dir("topk_dest_") + "/out"
    stream = _stage_late_batches(spark, sf_dir, late_mod)
    agg = (
        watermarked(stream, "ts", delay)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )

    # Seed the target with a 0-row parquet of the output schema so a
    # stream that finalizes ZERO windows still leaves a readable (empty)
    # table — mirroring the oracle's clean 0-row result — instead of a
    # missing path. (agg is a streaming frame; build the seed as batch.)
    seed_schema = StructType(
        [f for f in agg.schema.fields]
    ).add("rk", "integer")
    spark.createDataFrame([], seed_schema).write.mode("overwrite").parquet(
        dest
    )

    def rank_batch(bdf: DataFrame, batch_id: int) -> None:
        if bdf.isEmpty():
            return
        # asc_nulls_last matches DuckDB's default ASC NULL placement in
        # the oracle's tie-break — Spark defaults to NULLS FIRST, which
        # flips the rank of a NULL event_type group (NULL-probe find,
        # r10).
        w = Window.partitionBy("window_start").orderBy(
            F.desc("n_events"), F.asc_nulls_last("event_type")
        )
        (
            bdf.withColumn("rk", F.row_number().over(w).cast("int"))
            .where(F.col("rk") <= k)
            .write.mode("append")
            .parquet(dest)
        )

    with _pinned_state_partitions(spark):
        query = (
            agg.writeStream.outputMode("append")
            .foreachBatch(rank_batch)
            .option("checkpointLocation", staging_dir("ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        if not query.awaitTermination(300):
            query.stop()
            raise TimeoutError("stream_windowed_topk did not finish in 300s")
    return dest


def complete_mode_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-type totals in COMPLETE output mode — the third
    output-mode corner (append: q54-q59/q183; update: via foreachBatch
    upserts q89): complete re-emits the ENTIRE result table every
    micro-batch, so an unwatermarked global aggregate is legal and the
    final memory-sink state equals the batch aggregate over all input.
    Complete mode is the dashboard-totals pattern; its cost model at
    100 TB is the state table size (O(groups), here O(event types)),
    NOT the stream length — acceptable precisely when the group
    cardinality is bounded, which is why the repo's unbounded-key
    aggregations (q132 distinct users) use watermarked append instead."""
    return run_to_memory(
        complete_totals_stream(
            read_events_stream(spark, sf_dir, max_files_per_trigger=1)
        ),
        "complete",
    )


def complete_totals_stream(stream: DataFrame) -> DataFrame:
    """The unwatermarked global aggregate behind ``complete_mode_totals``
    (exposed for the restart probe: complete mode re-emits full state,
    so after a checkpoint resume the LAST run's table alone must equal
    the batch aggregate)."""
    return stream.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(_dterm()("value", 6)).alias("sum_value_dec"),
    )
