"""Streaming jobs over the ``events`` fixture (SURVEY §2B E37–E41).

Reference parity: the reference's only "continuous" behavior is re-running
``TransTablePartition`` (reference ``TransTablePartition.java:43``) on new
partitions; ``stream_migrate`` is that loop as a Structured Streaming
incremental append sink (E41).  The windowed/stateful operators are the
north-star streaming surface.

Every streaming run starts in ``run_stream`` — the one place that sets
the availableNow trigger and checkpoint, pins the state partitions and
bounds the wait; callers build only the sink. Stop/resume runs go
through ``restart_harness``.

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
import shutil
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

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


# Every streaming run is bounded: a query still running after this many
# seconds is stopped and its caller gets a TimeoutError.
STREAM_TIMEOUT_S = 300
# Shuffle (= state-store) partitions while a streaming query starts.
STATE_PARTITIONS = 4


@contextlib.contextmanager
def _pinned_state_partitions(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` low while a streaming query
    starts: each stateful operator materializes one state store per
    shuffle partition per micro-batch — pure overhead at fixture scale
    (a cluster job raises it; the value is baked into the checkpoint at
    first start, so it must wrap ``start()``, not just plan building).
    Queries here run sequentially with fresh checkpoints, so the
    save/restore is race-free."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_stream(
    spark: SparkSession, writer: DataStreamWriter, checkpoint: str
) -> None:
    """The one start site of every streaming run in the package.

    ``writer`` is built by the caller, sink and output mode included
    (memory, ``foreachBatch`` or a parquet path). This sets
    ``trigger(availableNow=True)`` — process every currently-available
    file, then stop — and the checkpoint, starts the query under the
    state-partition pin, and waits for it. A query that fails re-raises
    from ``awaitTermination``; one still running after
    ``STREAM_TIMEOUT_S`` is stopped and raises TimeoutError, so no
    caller ever reads a half-written sink and no query is left running.
    """
    with _pinned_state_partitions(spark):
        query = (
            writer.trigger(availableNow=True)
            .option("checkpointLocation", checkpoint)
            .start()
        )
        if not query.awaitTermination(STREAM_TIMEOUT_S):
            # Never return a partially-populated sink: stop and fail loudly.
            query.stop()
            raise TimeoutError(
                f"streaming query {query.name or query.id} did not finish "
                f"in {STREAM_TIMEOUT_S}s"
            )


def run_to_memory(sdf: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink.

    ``availableNow`` processes every currently-available file then stops,
    so the returned (batch) DataFrame is the deterministic final state.
    """
    spark = sdf.sparkSession
    name = f"sink_{uuid.uuid4().hex}"
    run_stream(
        spark,
        sdf.writeStream.format("memory").queryName(name).outputMode(output_mode),
        staging_dir("ckpt_"),
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


def tumbling_counts(stream: DataFrame) -> DataFrame:
    """Per-hour-window, per-type counts + exact value sums (tumbling)."""
    return (
        watermarked(stream)
        .groupBy(F.window("ts", "1 hour"), "event_type")
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


def sliding_counts(stream: DataFrame) -> DataFrame:
    """Overlapping-window counts (1 hour windows every 30 minutes); each
    event lands in two windows."""
    return (
        watermarked(stream)
        .groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def chained_windowed_rollup(stream: DataFrame) -> DataFrame:
    """Two chained stateful aggregations in ONE streaming query (Spark
    3.5+ multiple-stateful-operator support): per-(15-minute window,
    user) counts roll up into per-hour activity stats without landing
    the intermediate anywhere. The second groupBy re-windows on
    window_time() of the first — the documented chaining contract; the
    propagated watermark finalizes an hour only after every 15-minute
    sub-window inside it has been emitted upstream, so append output is
    deterministic. State is bounded at (open 15-minute windows × active
    users) + open hours; both drop on watermark pass."""
    fine_counts = (
        watermarked(stream)
        .groupBy(F.window("ts", "15 minutes"), "user_id")
        .agg(F.count("*").alias("c"))
    )
    return (
        fine_counts.groupBy(F.window(F.window_time("window"), "1 hour"))
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


def session_windows(stream: DataFrame) -> DataFrame:
    """Per-user sessions: events merge while consecutive gaps < 30 minutes.

    Spark's ``session_window`` end is ``last event ts + 30 minutes``; the DuckDB
    oracle reproduces that with a lag/cumulative-flag islands query.
    """
    return (
        watermarked(stream)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start"),
            F.unix_micros(F.col("session_window.end")).alias("session_end"),
            "n_events",
        )
    )


# --- stream-stream interval join ----------------------------------------------


def stream_stream_join(stream: DataFrame, how: str) -> DataFrame:
    """Attribute each click of the event ``stream`` to the views of the
    same user in the 30 minutes before it — the stream-stream interval
    join, ``how`` one of "inner" (q79), "left_outer" (q148) or
    "full_outer" (q202).

    Both sides carry watermarks, and the range predicate bounds how long
    a row must be buffered (watermark + 30 minutes) — Spark evicts join
    state past that horizon, so state is bounded on an infinite stream;
    at 100 TB the join key (user_id) partitions both sides' state
    stores. This is the streaming form of the as-of/attribution join
    (E12). Matched pairs emit immediately. The outer joins emit an
    unmatched row NULL-padded once the watermark proves no partner can
    still arrive, then drop its state — a deterministic emission rule
    the batch oracles reproduce. The asymmetric range gives each side
    its own horizon: a click waits on views in [click_ts - 30 min,
    click_ts], so it resolves when the watermark passes click_ts; a view
    waits on clicks in [view_ts, view_ts + 30 min], so it resolves 30
    minutes later. ``user_id`` is ``coalesce(c_user, v_user)``, which is
    the click's user whenever the row has a click.
    """

    def side(event_type: str, id_col: str, user_col: str, ts_col: str) -> DataFrame:
        rows = (
            stream.where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_col),
                F.col("user_id").alias(user_col),
                F.col("ts").alias(ts_col),
            )
        )
        return watermarked(rows, ts_col)

    clicks = side("click", "click_id", "c_user", "click_ts")
    views = side("view", "view_id", "v_user", "view_ts")
    return clicks.join(
        views,
        F.expr(
            "c_user = v_user AND view_ts >= click_ts - interval 30 minutes "
            "AND view_ts <= click_ts"
        ),
        how,
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


def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> str:
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
    from ..operators.merge import merge_upsert
    from ..operators.stage import materialize_stage

    base = staging_dir("stream_upsert_")
    stage, dest = f"{base}/stage", f"{base}/target"
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
    run_stream(
        spark, stream.writeStream.foreachBatch(apply_batch), staging_dir("ckpt_")
    )
    return dest


# --- E40: stateful dedup over a stream ---------------------------------------


def stream_dedup(stream: DataFrame) -> DataFrame:
    """Duplicate the ``stream`` (union with itself) then drop dups by key.

    ``dropDuplicatesWithinWatermark`` keeps per-key state only for the
    watermark horizon — bounded state at 100 TB, unlike a global distinct.
    """
    return (
        stream.unionByName(stream)
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
    run_stream(
        spark,
        read_events_stream(spark, sf_dir, glob=glob)
        .writeStream.format("parquet")
        .option("path", dest)
        .outputMode("append"),
        checkpoint or staging_dir("ckpt_"),
    )
    return dest


# --- custom stateful operator: applyInPandasWithState -------------------------


def user_streaks_updates(stream: DataFrame) -> DataFrame:
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
            if last_us is not None and us - last_us < 600 * 1_000_000:
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


def user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity streaks via a CUSTOM stateful operator.

    A streak is a maximal run of events where each inter-arrival gap is
    < 600 seconds. This is the `applyInPandasWithState` surface for
    stateful logic Spark's built-in windows can't express (the operator
    tracks (event_count, current_streak, longest_streak, last_ts) across
    micro-batches; state is per-key and watermark/timeout-evictable at
    scale — here NoTimeout since the fixture is finite).

    Returns the final (user_id, n_events, max_streak) per user.
    """
    updates = user_streaks_updates(read_events_stream(spark, sf_dir))
    final = run_to_memory(updates, "update")
    # update mode re-emits a key's row each batch it changes; counters are
    # monotone, so the max per key is the final state.
    return final.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("max_streak").alias("max_streak"),
    )


# --- E39: watermark late-data drop -------------------------------------------


# Held-back (late) rows of the watermark jobs: event_id % _LATE_MOD == 0.
_LATE_MOD = 997


def _stage_late_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared three-micro-batch staging for the watermark-semantics jobs
    (``late_data_drop``, ``stream_windowed_topk``): two on-time files,
    then the held-back rows (``event_id % 997 == 0``). The q59 and
    q183 oracles BOTH re-derive the on-time subset from this exact
    %997 / %13 split — one copy of the construction keeps the two
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
            F.when(F.col("event_id") % _LATE_MOD == 0, F.lit(2))
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
        spark, sf_dir, f"late_stage_{_LATE_MOD}", _build, valid=os.path.isdir
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


def late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode tumbling count demonstrating watermark semantics.

    Stages events into three files processed as separate micro-batches
    (``maxFilesPerTrigger=1``, mtime-ordered): two on-time files, then the
    held-back rows (``event_id % 997 == 0``).  The late-record filter
    uses the watermark *announced by the previous batch* (measured on
    Spark 4.1: data from batch N sets the filter watermark of batch N+2),
    so the middle batch ensures ``max(batch0 ts) - 10 minutes`` is in force
    when the late file arrives — its rows, months older, are dropped, and
    append mode emits exactly the windows whose end precedes the final
    watermark ``max(on-time ts) - 10 minutes``.  Deterministic → reproducible
    by a batch oracle over the on-time subset.
    """
    stream = _stage_late_batches(spark, sf_dir)
    agg = (
        watermarked(stream)
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start"),
            "n_events",
        )
    )
    return run_to_memory(agg, "append")


def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> str:
    """Per-window top-3 event types maintained by a streaming pipeline:
    append-mode tumbling counts (same staging + watermark construction
    as ``late_data_drop`` — two on-time micro-batches, one late batch
    whose rows are dropped), then a ``foreachBatch`` sink RANKS each
    finalized window and appends only its top-3 rows to the target.

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
    stream = _stage_late_batches(spark, sf_dir)
    agg = (
        watermarked(stream)
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
            .where(F.col("rk") <= 3)
            .write.mode("append")
            .parquet(dest)
        )

    run_stream(
        spark,
        agg.writeStream.outputMode("append").foreachBatch(rank_batch),
        staging_dir("ckpt_"),
    )
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


# --- restart harness: one job stopped and resumed on one checkpoint ----------


class _Restart:
    """The phases of one ``restart_harness``: see there."""

    def __init__(self, spark: SparkSession, parts: list, work: str, ckpt: str):
        self.spark, self.parts, self.work, self.ckpt = spark, parts, work, ckpt
        self.phases: list[list[tuple[int, list]]] = []

    def phase(
        self,
        build: Callable[[str], DataFrame],
        output_mode: str,
        landed: int,
        after_batch: Callable[[int], None] | None = None,
    ) -> list[tuple[int, list]]:
        import pyarrow.parquet as pq

        for i in range(landed):
            path = f"{self.work}/events_{i:03d}.parquet"
            if not os.path.exists(path):
                pq.write_table(self.parts[i], path)
                # The file source orders a batch's files by mtime; files
                # written within one clock tick would tie and could be
                # read out of ts order.
                os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))
        batches: list[tuple[int, list]] = []
        self.phases.append(batches)

        def collect(bdf: DataFrame, batch_id: int) -> None:
            batches.append((batch_id, bdf.collect()))
            if after_batch is not None:
                after_batch(batch_id)

        run_stream(
            self.spark,
            build(self.work).writeStream.foreachBatch(collect).outputMode(output_mode),
            self.ckpt,
        )
        return batches


@contextlib.contextmanager
def restart_harness(spark: SparkSession, sf_dir: str, n_files: int):
    """Run one streaming job in phases on ONE checkpoint: stop it, let
    more input land, resume — the contract a production stream lives by
    (no rows lost with forgotten state, none duplicated by replayed
    state) and a single availableNow pass never exercises.

    ``sf_dir``'s events are sorted by ts (arrival order, the shape a
    migrate loop feeds a landing dir) and cut at rows
    ``i * num_rows // n_files`` into ``n_files`` slices. The context
    value's ``phase(build, output_mode, landed, after_batch=None)``
    lands the first ``landed`` slices as ``events_000.parquet``, … in a
    staging dir, runs ``build(dir)`` to completion on the shared
    checkpoint through a foreachBatch collector, and returns that
    phase's ``[(batch_id, rows)]``; ``phases`` holds every phase's list,
    a crashed one included. foreachBatch is the one sink that resumes
    from a checkpoint (the memory sink refuses to). ``after_batch(id)``
    runs once a batch's rows are collected: raising there kills the
    query between the sink write and the batch's commit. The staged
    input and the checkpoint are removed on exit, raising or not."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
    cuts = [i * t.num_rows // n_files for i in range(n_files + 1)]
    parts = [t.slice(a, b - a) for a, b in zip(cuts, cuts[1:])]
    work = staging_dir("restart_")
    ckpt = staging_dir("restart_ckpt_")
    try:
        yield _Restart(spark, parts, work, ckpt)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
