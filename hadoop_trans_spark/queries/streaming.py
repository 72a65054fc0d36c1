"""Streaming queries E37–E41 (SURVEY §2B), checked against batch oracles.

Every streaming job runs with ``trigger(availableNow=True)`` over the
static fixture, so its final sink state is deterministic and equals a
batch query DuckDB can run — the strategy SURVEY §5.2 commits to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import (
    late_data_drop,
    read_events_stream,
    run_to_memory,
    session_windows,
    sliding_counts,
    stream_dedup,
    stream_migrate,
    restart_harness,
    stream_static_enrich,
    stream_stream_join,
    stream_upsert_sink,
    tumbling_counts,
    user_streaks,
)
from .base import (
    O_TS_DOMAIN,
    _dec_out,
    dsum,
    o_dsum,
    o_ts_domain,
    query,
)

# Hourly tumbling windows finalized by the final watermark: q54's oracle,
# and q250's (the same job across a stop/resume).
_TUMBLING_ORACLE = f"""
    WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM events
                WHERE {O_TS_DOMAIN})
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start,
           event_type,
           count(*) AS n_events,
           {o_dsum('value')} AS sum_value
    FROM events, wm
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' <= w
      AND {O_TS_DOMAIN}
    GROUP BY 1, 2
    ORDER BY 1, 2
    """

# 30-minute-gap sessions finalized by the final watermark: q56's oracle,
# and q254's (the same job across a stop/resume).
_SESSION_ORACLE = f"""
    WITH o AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events WHERE {O_TS_DOMAIN}
    ), f AS (
        SELECT user_id, ts,
               CASE WHEN prev IS NULL
                         OR ts - prev >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS news
        FROM o
    ), g AS (
        SELECT user_id, ts,
               sum(news) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
        FROM f
    ), wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM events
                WHERE {O_TS_DOMAIN})
    SELECT user_id,
           epoch_us(min(ts)) AS session_start,
           epoch_us(max(ts) + INTERVAL '30 minutes') AS session_end,
           count(*) AS n_events
    FROM g, wm
    GROUP BY user_id, sid, w
    HAVING max(ts) + INTERVAL '30 minutes' <= w
    ORDER BY user_id, session_start
    """


@query("q54_stream_tumbling", _TUMBLING_ORACLE)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E37 tumbling window: hourly per-type counts + exact sums.

    Append mode: a window is emitted once, when the watermark
    (max event time - 10 min) passes its end, and its state is dropped —
    bounded state on an infinite stream, unlike complete mode which
    retains every window ever seen. The oracle keeps exactly the
    finalized windows via the same watermark WHERE.
    """
    out = run_to_memory(
        tumbling_counts(read_events_stream(spark, sf_dir)), "append"
    )
    return out.orderBy("window_start", "event_type")


@query(
    "q55_stream_sliding",
    f"""
    WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM events
                WHERE {O_TS_DOMAIN})
    SELECT epoch_us(ws) AS window_start, event_type, count(*) AS n_events
    FROM (
        SELECT time_bucket(INTERVAL '30 minutes', ts)
                   - k * INTERVAL '30 minutes' AS ws,
               event_type
        FROM events
        CROSS JOIN (SELECT unnest([0, 1]) AS k)
        WHERE {O_TS_DOMAIN}
    ), wm
    WHERE ws + INTERVAL '1 hour' <= w
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E37 sliding window (1h size / 30m slide): each event in 2 windows.

    Append mode + watermark (see q54): only windows finalized by the
    final watermark are emitted; state for them is dropped.
    """
    out = run_to_memory(
        sliding_counts(read_events_stream(spark, sf_dir)), "append"
    )
    return out.orderBy("window_start", "event_type")


@query("q56_stream_session", _SESSION_ORACLE)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E38 session windows: 30-minute-gap sessions per user.

    Oracle reproduces Spark's merge rule (windows merge iff they overlap,
    i.e. next ts strictly < prev ts + gap) with a lag/islands query.
    Append mode (see q54): a session is emitted once its end
    (last event + gap) is past the final watermark; its state is dropped.
    """
    out = run_to_memory(
        session_windows(read_events_stream(spark, sf_dir)), "append"
    )
    return out.orderBy("user_id", "session_start")


@query(
    "q57_stream_dedup",
    f"""
    SELECT event_type, count(*) AS n_events, {o_dsum('value')} AS sum_value
    FROM events
    WHERE {O_TS_DOMAIN}
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E40 stateful stream dedup: doubled input → exactly-once per key."""
    deduped = run_to_memory(
        stream_dedup(read_events_stream(spark, sf_dir)), "append"
    )
    return (
        deduped.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "q58_stream_migrate",
    f"""
    SELECT count(*) AS n_rows,
           count(DISTINCT event_id) AS n_ids,
           min(event_id) AS min_id,
           max(event_id) AS max_id,
           {o_dsum('value')} AS sum_value
    FROM events
    """,
)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E41 incremental append sink: continuous migrate, fingerprint-checked.

    The streaming re-expression of the reference's partition migrate loop
    (reference ``TransTablePartition.java:115-140``); exactly-once file
    tracking replaces its dest-exists conflict check.
    """
    dest = stream_migrate(spark, sf_dir)
    return spark.read.parquet(dest).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        dsum("value").alias("sum_value"),
    )


@query(
    "q60_stream_custom_state",
    """
    WITH o AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events
    ), f AS (
        SELECT user_id, ts,
               CASE WHEN prev IS NULL
                         OR ts - prev >= INTERVAL '600 seconds'
                    THEN 1 ELSE 0 END AS news
        FROM o
    ), g AS (
        SELECT user_id,
               sum(news) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
        FROM f
    ), streaks AS (
        SELECT user_id, sid, count(*) AS streak
        FROM g GROUP BY user_id, sid
    )
    SELECT user_id,
           CAST(sum(streak) AS BIGINT) AS n_events,
           max(streak) AS max_streak
    FROM streaks
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user longest
    activity streak (runs of events < 10 min apart). Logic Spark's
    built-in windows can't express; oracle is the islands equivalent."""
    return user_streaks(spark, sf_dir).orderBy("user_id")


@query(
    "q79_stream_stream_join",
    f"""
    SELECT c.event_id AS click_id,
           v.event_id AS view_id,
           c.user_id,
           epoch_us(c.ts) AS click_us,
           epoch_us(v.ts) AS view_us
    FROM events c
    JOIN events v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND v.ts >= c.ts - INTERVAL '30 minutes' AND v.ts <= c.ts
     AND {o_ts_domain('c.ts')} AND {o_ts_domain('v.ts')}
    ORDER BY click_id, view_id
    """,
)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: click→view attribution within a
    30-minute lookback, same user. Inner join with watermarks on both
    sides + an event-time range predicate, so Spark bounds the buffered
    join state by watermark + lookback — the oracle is the equivalent
    batch interval join."""
    out = run_to_memory(
        stream_stream_join(read_events_stream(spark, sf_dir), "inner"), "append"
    )
    return out.select(
        "click_id", "view_id", "user_id", "click_us", "view_us"
    ).orderBy("click_id", "view_id")


@query(
    "q88_stream_static_join",
    f"""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           {o_dsum('e."value"')} AS value_sum,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE c.c_custkey <= 150
    GROUP BY 1 ORDER BY 1
    """,
)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrich: the stateless streaming join (dim
    re-planned per micro-batch, no state store); sink fingerprinted per
    market segment."""
    enriched = run_to_memory(stream_static_enrich(spark, sf_dir), "append")
    return (
        enriched.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("value_sum"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("segment")
    )


@query(
    "q89_stream_upsert_sink",
    f"""
    SELECT count(*) AS n_rows,
           count(DISTINCT event_id) AS n_ids,
           min(event_id) AS min_id,
           max(event_id) AS max_id,
           {o_dsum('"value"')} AS sum_value
    FROM events
    """,
)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE sink: two identical micro-batches upserted by
    event_id converge to exactly one row per key — the keyed-table
    maintenance pattern for sinks without native MERGE. Fingerprint of
    the final target equals the distinct source."""
    dest = stream_upsert_sink(spark, sf_dir)
    return spark.read.parquet(dest).agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        dsum("value").alias("sum_value"),
    )


@query(
    "q59_stream_late_drop",
    f"""
    WITH a AS (SELECT * FROM events
               WHERE event_id % 997 != 0 AND {O_TS_DOMAIN}),
         wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM a)
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start,
           count(*) AS n_events
    FROM a, wm
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' <= w
    GROUP BY 1
    ORDER BY 1
    """,
)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E39 watermark: late rows (2nd batch, far behind watermark) dropped.

    Append mode emits exactly the windows whose end precedes the final
    watermark (max on-time ts - 10 min) — reproduced by the oracle's WHERE.
    """
    return late_data_drop(spark, sf_dir).orderBy("window_start")



@query(
    "q132_stream_approx_distinct",
    f"""
    WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM events
                WHERE {O_TS_DOMAIN})
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS window_start,
           COUNT(DISTINCT user_id) AS exact_users,
           1 AS within_tol
    FROM events, wm
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' <= w
      AND {O_TS_DOMAIN}
    GROUP BY 1
    ORDER BY 1
    """,
)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct users per hourly window via HyperLogLog.
    COUNT(DISTINCT) is unsupported in streaming aggregations — exact
    distinct needs unbounded per-window key state — so the mergeable
    HLL sketch IS the streaming answer, with state bounded at one
    sketch per open window. Checked differentially (the q12 pattern):
    the streaming approx result joins a batch exact distinct per
    finalized window, and the query emits the exact count plus a flag
    asserting the sketch landed within max(2, 5%) — the absolute floor
    covers the small-window regime where a single-count wobble exceeds
    any percentage; a drifting estimator fails the hash gate instead of
    hiding behind a rows-only check."""
    from ..catalog import table as _table

    from ..streaming.jobs import watermarked

    sdf = read_events_stream(spark, sf_dir)
    agg = (
        watermarked(sdf)
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users")
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start"),
            "approx_users",
        )
    )
    out = run_to_memory(agg, "append")
    ev = _table(spark, sf_dir, "events")
    exact = (
        ev.groupBy(F.window("ts", "1 hour"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start"),
            "exact_users",
        )
    )
    return (
        out.join(exact, "window_start")
        .select(
            "window_start",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= F.greatest(F.lit(2.0), 0.05 * F.col("exact_users"))
            )
            .cast("int")
            .alias("within_tol"),
        )
        .orderBy("window_start")
    )


@query(
    "q141_stream_chained_rollup",
    f"""
    WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM events
                WHERE {O_TS_DOMAIN}),
    q AS (
        SELECT time_bucket(INTERVAL '15 minutes', ts) AS q15,
               user_id, COUNT(*) AS c
        FROM events WHERE {O_TS_DOMAIN} GROUP BY 1, 2
    )
    SELECT epoch_us(time_bucket(INTERVAL '1 hour', q15)) AS window_start,
           CAST(SUM(c) AS BIGINT) AS n_events,
           COUNT(*) AS n_user_slots,
           MAX(c) AS max_burst
    FROM q, wm
    WHERE time_bucket(INTERVAL '1 hour', q15) + INTERVAL '1 hour' <= w
    GROUP BY 1
    ORDER BY 1
    """,
)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful aggregation (Spark 3.5+ multiple stateful
    operators): per-(15-minute window, user) counts feed a second
    windowed aggregation producing hourly totals / active-user-slot
    counts / peak per-user burst — all inside ONE streaming query, no
    intermediate sink. This is the streaming twin of the multi-resolution
    rollup (q94): at scale the fine aggregation's map-side combine means
    the second operator sees O(users × 4) rows per hour, not raw events.
    Append mode: the oracle keeps exactly the hourly windows finalized by
    the final watermark (q54 pattern)."""
    from ..streaming import chained_windowed_rollup

    out = run_to_memory(
        chained_windowed_rollup(read_events_stream(spark, sf_dir)), "append"
    )
    return out.orderBy("window_start")


@query(
    "q148_stream_stream_left_join",
    f"""
    WITH clicks AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click' AND {O_TS_DOMAIN}
    ),
    views AS (
        SELECT event_id AS view_id, user_id, ts AS view_ts
        FROM events WHERE event_type = 'view' AND {O_TS_DOMAIN}
    ),
    wm AS (SELECT least(
               (SELECT max(ts) FROM events
                WHERE event_type = 'click' AND {O_TS_DOMAIN}),
               (SELECT max(ts) FROM events
                WHERE event_type = 'view' AND {O_TS_DOMAIN}))
               - INTERVAL '10 minutes' AS w)
    SELECT c.click_id,
           c.user_id,
           epoch_us(c.click_ts) AS click_us,
           v.view_id,
           epoch_us(v.view_ts) AS view_us
    FROM clicks c
    LEFT JOIN views v
      ON c.user_id = v.user_id
     AND v.view_ts >= c.click_ts - INTERVAL '30 minutes'
     AND v.view_ts <= c.click_ts
    CROSS JOIN wm
    WHERE v.view_id IS NOT NULL OR c.click_ts < wm.w
    ORDER BY click_id, view_id
    """,
)
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-OUTER stream-stream join (q79's completion): clicks with no
    view in the 30-minute lookback are emitted NULL-padded — but only
    once the view-side watermark passes their event time, proving no
    match can still arrive; Spark then drops the buffered click state.
    Matched rows emit immediately (inner path). The oracle states the
    emission rule exactly: all matched pairs, plus unmatched clicks
    strictly older than the final watermark (max view ts − 10 min) —
    unmatched clicks NEWER than the watermark are still unresolved at
    end-of-stream and correctly absent. State per key is bounded by
    watermark + lookback on both sides; at 100 TB user_id partitions
    both state stores."""
    out = run_to_memory(
        stream_stream_join(read_events_stream(spark, sf_dir), "left_outer"), "append"
    )
    return out.orderBy("click_id", "view_id")


@query(
    "q183_stream_windowed_topk",
    f"""
    WITH a AS (SELECT * FROM events
               WHERE event_id % 997 != 0 AND {O_TS_DOMAIN}),
         wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS w FROM a),
         counts AS (
             SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
                    event_type, COUNT(*) AS n_events
             FROM a, wm
             WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
                   <= w
             GROUP BY 1, 2
         ),
         ranked AS (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY wstart
                         ORDER BY n_events DESC, event_type) AS rk
             FROM counts
         )
    SELECT epoch_us(wstart) AS window_start, event_type, n_events,
           CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
    ORDER BY window_start, rk
    """,
)
def q183(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard: top-3 event types per finalized hour
    window, ranked in a foreachBatch sink as the watermark closes each
    window (append mode emits a window once and in full, so the
    per-batch rank IS the per-window global rank). Oracle re-derives the
    emission rule (windows ending before the final watermark) over the
    on-time subset and ranks in batch SQL."""
    from ..streaming.jobs import stream_windowed_topk

    dest = stream_windowed_topk(spark, sf_dir)
    return spark.read.parquet(dest).select(
        "window_start", "event_type", "n_events", "rk"
    ).orderBy("window_start", "rk")


@query(
    "q189_stream_complete_totals",
    f"""
    SELECT event_type, COUNT(*) AS n_events,
           {o_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q189(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-output-mode streaming totals: the final re-emitted state
    of an unwatermarked global aggregate must equal the batch aggregate
    over the same input — the output-mode corner append (q54-q59) and
    update-via-foreachBatch (q89) don't cover. Legal only because the
    grouping key is bounded (state is O(event types))."""
    from ..streaming.jobs import complete_mode_totals

    return (
        complete_mode_totals(spark, sf_dir)
        .select(
            "event_type",
            "n_events",
            _dec_out(F.col("sum_value_dec"), 6).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "q202_stream_stream_full_outer",
    f"""
    WITH clicks AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click' AND {O_TS_DOMAIN}
    ),
    views AS (
        SELECT event_id AS view_id, user_id, ts AS view_ts
        FROM events WHERE event_type = 'view' AND {O_TS_DOMAIN}
    ),
    wm AS (SELECT least(
               (SELECT max(ts) FROM events
                WHERE event_type = 'click' AND {O_TS_DOMAIN}),
               (SELECT max(ts) FROM events
                WHERE event_type = 'view' AND {O_TS_DOMAIN}))
               - INTERVAL '10 minutes' AS w)
    SELECT c.click_id,
           COALESCE(c.user_id, v.user_id) AS user_id,
           epoch_us(c.click_ts) AS click_us,
           v.view_id,
           epoch_us(v.view_ts) AS view_us
    FROM clicks c
    FULL JOIN views v
      ON c.user_id = v.user_id
     AND v.view_ts >= c.click_ts - INTERVAL '30 minutes'
     AND v.view_ts <= c.click_ts
    CROSS JOIN wm
    WHERE (c.click_id IS NOT NULL AND v.view_id IS NOT NULL)
       OR (v.view_id IS NULL AND c.click_ts < wm.w)
       OR (c.click_id IS NULL AND v.view_ts + INTERVAL '30 minutes' < wm.w)
    ORDER BY click_id, view_id
    """,
)
def q202(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-outer stream-stream join (completes the q79/q148 family):
    unmatched rows on BOTH sides emit NULL-padded under watermark
    control. The oracle states each side's emission rule from its own
    state horizon: matched pairs always; clicks with no view once the
    watermark passes click_ts (they awaited views in
    [click_ts-30m, click_ts]); views with no click once the watermark
    passes view_ts+30m (they awaited clicks in [view_ts, view_ts+30m])
    — rows newer than their horizon are still unresolved at
    end-of-stream and correctly absent. State on both sides is bounded
    by watermark + lookback; user_id partitions both stores."""
    out = run_to_memory(
        stream_stream_join(read_events_stream(spark, sf_dir), "full_outer"), "append"
    )
    return out.orderBy("click_id", "view_id")


@query(
    "q250_stream_restart_tumbling",
    # Same emission rule as q54 (windows finalized by the final
    # watermark), but computed ACROSS A PROCESS RESTART: the oracle
    # cannot see the stop/resume, so a hash match proves the
    # checkpoint round-trip emitted exactly the windows a never-stopped
    # run emits — no losses (state forgotten) and no duplicates (state
    # replayed).
    oracle=_TUMBLING_ORACLE,
)
def q250_stream_restart_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store restart THROUGH the driver's hash gate (r13; the full
    ten-family sweep is tools/stream_probe.py): events staged as two
    ts-ordered files; a tumbling windowed aggregate (the q54 job) runs
    file 1 to completion into a foreachBatch collector with a
    persistent checkpoint, STOPS, file 2 lands, and a NEW query resumes
    from the SAME checkpoint. Open-window partials and the watermark
    cross the restart inside the state store; the union of both phases
    must hash-match the batch oracle exactly — the contract a
    production stream lives by and a single availableNow pass never
    exercises.

    Harness shape vs deployment shape (the q183/q189 note): the
    foreachBatch collector's ``bdf.collect()`` exists only to hand the
    finalized windows back through the query contract and is bounded at
    |windows|x|event_types| rows; a production job writes each
    micro-batch to a sink table instead — nothing crosses the driver."""
    out = _across_restart(spark, sf_dir, tumbling_counts)
    return out.orderBy("window_start", "event_type")


@query(
    "q254_stream_restart_session",
    # q56's batch oracle (lag-islands session merge, sessions finalized
    # by the final watermark) — computed across a process restart. The
    # session state is the gnarlier restart case the tumbling gate
    # (q250) does not cover: an OPEN session (gap not yet elapsed at
    # the stop) must survive the checkpoint and MERGE with events that
    # arrive after the resume, or the engine double-emits the two
    # halves as separate sessions.
    _SESSION_ORACLE,
)
def q254_stream_restart_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window state across a stop/resume (VERDICT r13 item 7 —
    the q250 harness applied to the q56 job): events staged as two
    ts-ordered files, the 30-minute-gap session job runs file 1 to
    completion with a persistent checkpoint, STOPS mid-corpus (open
    sessions + the watermark live in the state store), file 2 lands,
    and a NEW query resumes from the SAME checkpoint. Gap-merge across
    the restart is the hard part: a session whose first half arrived
    before the stop and second half after must emit ONCE, merged. The
    union of both phases must hash-match q56's batch oracle.

    Harness shape vs deployment shape (the q250 note): the foreachBatch
    collector's ``bdf.collect()`` is bounded at |finalized sessions|
    and exists to return the result through the query contract; a
    production job writes micro-batches to a sink table."""
    out = _across_restart(spark, sf_dir, session_windows)
    return out.orderBy("user_id", "session_start")


def _across_restart(spark: SparkSession, sf_dir: str, job) -> DataFrame:
    """``job`` over the events landed as two ts-ordered halves (cut at
    ``num_rows // 2``): run to completion on the first, stopped, resumed
    from the same checkpoint once the second lands. Returns the union of
    both phases' output — what a never-stopped run emits, if the state
    store round-trips."""

    def build(d: str) -> DataFrame:
        return job(read_events_stream(spark, d, max_files_per_trigger=1))

    with restart_harness(spark, sf_dir, 2) as run:
        run.phase(build, "append", 1)  # first half: open state checkpointed
        run.phase(build, "append", 2)  # resumed after the second half lands
    rows = [r for phase in run.phases for _, batch in phase for r in batch]
    return spark.createDataFrame(
        rows, job(read_events_stream(spark, sf_dir)).schema
    )
