"""Time-series operators over the events stream-at-rest table: hypertable
rollups, gap filling, and multi-dimensional layout (SURVEY §2B E14/E17
extensions; the continuous-aggregate / data-layout surface a metrics or
training-telemetry pipeline needs at 100 TB).

Scale notes: every query here is one or two hash shuffles on (user, hour)
grain — never a per-row Python path. The gap-fill grid is generated from
per-key bounds (`sequence` + `explode`), so dense-grid size is
O(keys × span/step) and controlled by the caller's sampling predicate,
not by data skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..operators.zorder import zvalue, zvalue_sql
from .base import (
    O_TS_DOMAIN,
    _dec_out,
    dround,
    dsum,
    dterm,
    o_dec_out,
    o_dround,
    o_dsum,
    o_dterm,
    query,
    ts_in_domain,
    ts_micros,
)


@query(
    "q94_multires_rollup",
    oracle=f"""
    WITH grains AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr,
               value
        FROM events
    )
    SELECT COALESCE(day, '<all>') AS day,
           COALESCE(hr, '<all>') AS hr,
           GROUPING(day) + 2 * GROUPING(hr) AS gid,
           COUNT(*) AS n,
           {o_dsum('value')} AS value_sum
    FROM grains
    GROUP BY ROLLUP (day, hr)
    -- No-op on any non-empty input (every real rollup group has >= 1
    -- row); on an EMPTY shard it drops the SQL-standard grand-total
    -- row DuckDB emits for the () grouping set — Spark's rollup emits
    -- nothing there (empty-input probe find, r10).
    HAVING COUNT(*) > 0
    ORDER BY gid, day, hr
    """,
)
def q94_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup: hourly, daily, and total
    aggregates of the event stream in ONE pass via ROLLUP(day, hour) —
    the batch form of a continuous aggregate. At 100 TB this replaces
    N separate scans (one per resolution) with a single shuffle whose
    map side emits partial aggregates per grouping set."""
    e = table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias("hr"),
        "value",
    )
    return (
        e.rollup("day", "hr")
        .agg(
            (F.grouping("day") + 2 * F.grouping("hr")).alias("gid"),
            F.count("*").alias("n"),
            dsum("value").alias("value_sum"),
        )
        .select(
            F.coalesce("day", F.lit("<all>")).alias("day"),
            F.coalesce("hr", F.lit("<all>")).alias("hr"),
            "gid",
            "n",
            "value_sum",
        )
        .orderBy("gid", "day", "hr")
    )


@query(
    "q95_gap_fill_locf",
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               {o_dsum('value')} AS v
        FROM events WHERE user_id % 97 = 0 AND {O_TS_DOMAIN}
        GROUP BY 1, 2
    ),
    bounds AS (SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1),
    grid AS (
        SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM bounds
    )
    SELECT g.user_id AS user_id, epoch_us(g.h) AS hour_us,
           LAST_VALUE(hv.v IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill,
           CAST(hv.v IS NULL AS INT) AS is_gap
    FROM grid g
    LEFT JOIN hourly hv ON g.user_id = hv.user_id AND g.h = hv.h
    ORDER BY user_id, hour_us
    """,
)
def q95_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-grid gap filling with last-observation-carried-forward:
    per-user hourly series from first to last activity, missing hours
    materialized (`sequence` + `explode` from per-key bounds — no
    driver-side calendar) and filled by `last(v, ignorenulls)` over an
    ordered window. The grid size is keys × span, independent of event
    skew; the sampling predicate stands in for the key-subset a real
    dashboard/feature query would push down."""
    e = table(spark, sf_dir, "events").where(
        (F.col("user_id") % 97 == 0) & ts_in_domain()
    )
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(dsum("value").alias("v"))
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("h"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            ts_micros("h").alias("hour_us"),
            F.last("v", ignorenulls=True).over(w).alias("v_fill"),
            F.col("v").isNull().cast("int").alias("is_gap"),
        )
        .orderBy("user_id", "hour_us")
    )


_ZX = "CAST(user_id % 256 AS INT)"
_ZY = "CAST((EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) // 6 AS INT)"


@query(
    "q96_zorder_stats",
    oracle=f"""
    WITH pts AS (
        SELECT {_ZX} AS x, {_ZY} AS y FROM events
    ),
    z AS (SELECT x, y, {zvalue_sql('x', 'y')} >> 8 AS bucket FROM pts)
    SELECT bucket, COUNT(*) AS n,
           MIN(x) AS x_min, MAX(x) AS x_max,
           MIN(y) AS y_min, MAX(y) AS y_max
    FROM z GROUP BY bucket ORDER BY bucket
    """,
)
def q96_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order bucket statistics (`operators/zorder.py`): Morton-code
    events on (user bucket, time-of-day bucket) and report each z-range's
    extent in both dimensions. Every bucket's x AND y spans are bounded
    (≤16 of 256 values at 8 bits ≫ 8-bit bucket shift) — the property
    that makes min/max file stats prune on either predicate once a
    table is range-partitioned on the z-value."""
    e = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 256).cast("int").alias("x"),
        F.floor(
            (F.hour("ts") * 60 + F.minute("ts")) / 6
        ).cast("int").alias("y"),
    )
    return (
        e.select("x", "y", F.shiftright(zvalue(F.col("x"), F.col("y")), 8).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
        )
        .orderBy("bucket")
    )


@query(
    "q99_rolling_7day",
    oracle=f"""
    WITH daily AS (
        SELECT user_id,
               datediff('day', DATE '1970-01-01', CAST(date_trunc('day', ts) AS DATE)) AS day_idx,
               {o_dsum('value')} AS v
        FROM events WHERE user_id % 7 = 0 GROUP BY 1, 2
    )
    SELECT user_id, day_idx, v,
           {o_dec_out("SUM(" + o_dterm('v', 6) + ") OVER w7", 6)} AS v_7d,
           COUNT(*) OVER w7 AS active_days_7d
    FROM daily
    WINDOW w7 AS (PARTITION BY user_id ORDER BY day_idx
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, day_idx
    """,
)
def q99_rolling_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day aggregate per user: daily grain first (one hash
    shuffle — the rolling state then works over days, not raw events),
    then a RANGE frame keyed on an integer day index, which is
    engine-portable and skips missing days correctly (a ROWS frame would
    silently span gaps). One window shuffle on user_id; rolling sums go
    through decimal so frame evaluation order never changes the answer.
    At 100 TB the daily pre-aggregation is what bounds window state:
    per-user rows = active days, not events."""
    from .base import DEC

    e = table(spark, sf_dir, "events").where(F.col("user_id") % 7 == 0)
    daily = e.groupBy(
        "user_id",
        F.datediff(F.to_date(F.date_trunc("day", "ts")), F.lit("1970-01-01"))
        .alias("day_idx"),
    ).agg(dsum("value").alias("v"))
    w7 = (
        Window.partitionBy("user_id")
        .orderBy("day_idx")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "user_id",
        "day_idx",
        "v",
        _dec_out(F.sum(dterm("v", 6)).over(w7), 6).alias("v_7d"),
        F.count("*").over(w7).alias("active_days_7d"),
    ).orderBy("user_id", "day_idx")


@query(
    "q100_cohort_retention",
    oracle="""
    WITH activity AS (
        SELECT DISTINCT user_id,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS week_idx
        FROM events
    ),
    cohort AS (SELECT user_id, MIN(week_idx) AS cohort_week FROM activity GROUP BY 1)
    SELECT c.cohort_week AS cohort_week,
           a.week_idx - c.cohort_week AS week_offset,
           COUNT(*) AS n_active,
           CAST(ROUND(COUNT(*) * 1.0 / MAX(s.cohort_size), 6) AS DOUBLE) AS retention
    FROM activity a
    JOIN cohort c USING (user_id)
    JOIN (SELECT cohort_week, COUNT(*) AS cohort_size FROM cohort GROUP BY 1) s
      ON s.cohort_week = c.cohort_week
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q100_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-active week
    (integer week index — portable, no engine week-start convention),
    then the share of each cohort active k weeks later. The distinct
    (user, week) projection collapses events before any join. The
    cohort table is USER-count sized — it scales with the corpus, so it
    carries no broadcast hint (the optimizer broadcasts it at fixture
    SFs; at 100 TB the activity⋈cohort join shuffles on user_id, the
    same key the groupBy already needs). The cohort-SIZE table is
    calendar-bounded and stays hinted. The only big shuffle is the
    initial distinct."""
    e = table(spark, sf_dir, "events")
    activity = e.select(
        "user_id",
        (F.datediff(F.to_date("ts"), F.lit("1970-01-01")) / 7)
        .cast("bigint")
        .alias("week_idx"),
    ).distinct()
    cohort = activity.groupBy("user_id").agg(
        F.min("week_idx").alias("cohort_week")
    )
    sizes = cohort.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_size")
    )
    return (
        activity.join(cohort, "user_id")
        .join(F.broadcast(sizes), "cohort_week")
        .groupBy(
            "cohort_week",
            (F.col("week_idx") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(
            F.count("*").alias("n_active"),
            F.round(F.count("*") / F.max("cohort_size"), 6)
            .cast("double")
            .alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "q101_funnel_stages",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY 1),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
)
def q101_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → later click → later purchase) counted per
    user. Each stage is one conditional-min aggregation joined to the
    previous stage's per-user anchor time — stage tables shrink
    monotonically but are PER-USER, i.e. they scale with the corpus, so
    they carry no broadcast hints (the optimizer broadcasts them at
    fixture SFs; at 100 TB each stage join shuffles on user_id — the
    key every stage aggregates on anyway, so the exchanges line up);
    the ordering predicate `ts > anchor` is what makes it a true
    sequence funnel rather than a set-membership count."""
    e = table(spark, sf_dir, "events")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_view_click")))
        .crossJoin(p.agg(F.count("*").alias("n_view_click_purchase")))
    )


@query(
    "q106_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS n,
           CAST(ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER
                        (PARTITION BY event_type), 6) AS DOUBLE) AS p
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q106_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-transition matrix (Markov counts + row-normalized
    probabilities): one lead() window per user stream, one hash
    aggregation on (from, to), and the normalizing total rides a window
    over the 25-row result — no second scan. The per-user window is the
    only event-sized shuffle; ties are broken on event_id so the sequence
    is deterministic under any partitioning."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).where(F.col("next_type").isNotNull())
    counts = seq.groupBy("event_type", "next_type").agg(
        F.count("*").alias("n")
    )
    wt = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wt), 6).cast("double").alias("p"),
    ).orderBy("event_type", "next_type")


@query(
    "q107_zscore_outliers",
    # Exact decimal moments are defined over |v| < 1e9 (the 2^53/scale
    # envelope — beyond it v² leaves both engines' exact ranges); days
    # outside the domain are excluded symmetrically, like non-finite
    # values (r11 extreme probe).
    oracle=f"""
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               {o_dsum('value')} AS v
        FROM events GROUP BY 1, 2
    ),
    dd AS (SELECT * FROM daily WHERE ABS(v) < 1000000000.0),
    stats AS (
        SELECT user_id, COUNT(*) AS n,
               SUM({o_dterm('v', 6)}) AS s,
               SUM({o_dterm('v', 6)} * {o_dterm('v', 6)}) AS sq
        FROM dd GROUP BY 1 HAVING COUNT(*) >= 3
    ),
    z AS (
        SELECT d.user_id,
               {o_dround(
                   "(CAST(d.v AS DECIMAL(38,6)) - s.s / s.n)"
                   " / sqrt(CAST((s.sq - s.s * s.s / s.n) / (s.n - 1)"
                   " AS DOUBLE))", 4)} AS z
        FROM dd d JOIN stats s ON d.user_id = s.user_id
        WHERE (s.sq - s.s * s.s / s.n) > 0
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN abs(z) > 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outlier_days,
           CAST(MAX(abs(z)) AS DOUBLE) AS max_abs_z
    FROM z GROUP BY 1 ORDER BY 1
    """,
)
def q107_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user anomaly detection: z-scores of daily activity against the
    user's own mean/stddev. Variance comes from decimal (n, Σv, Σv²)
    partials — exact under any partitioning, unlike stddev_samp's
    fp-order-dependent accumulation — so the z-scores are bit-identical
    across engines. Two hash aggregations plus one broadcastable
    per-user stats join; nothing holds more than O(users) state."""
    from .base import DEC

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(dsum("value").alias("v"))
    # Exact-moment domain: |v| < 1e9 (see the oracle note).
    dd = daily.where(F.abs("v") < 1e9)
    vdec = F.col("v").cast(DEC)
    stats = (
        dd.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(vdec).alias("s"),
            F.sum(vdec * vdec).alias("sq"),
        )
        .where(F.col("n") >= 3)
    )
    var = (F.col("sq") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    z = (
        # stats is per-user (corpus-scaled): unhinted — auto-broadcast
        # at fixture SFs, user_id-shuffle join at 100 TB.
        dd.join(stats, "user_id")
        .where((F.col("sq") - F.col("s") * F.col("s") / F.col("n")) > 0)
        .select(
            "user_id",
            dround(
                (vdec - F.col("s") / F.col("n")) / F.sqrt(var.cast("double")),
                4,
            ).alias("z"),
        )
    )
    return (
        z.groupBy("user_id")
        .agg(
            F.sum(F.when(F.abs("z") > 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_outlier_days"),
            F.max(F.abs("z")).cast("double").alias("max_abs_z"),
        )
        .orderBy("user_id")
    )


@query(
    "q124_mad_outliers",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               {o_dsum('value')} AS v
        FROM events GROUP BY 1, 2
    ),
    med AS (
        SELECT event_type,
               CAST({o_dround('quantile_cont(v, 0.5)', 9)} AS DOUBLE) AS med
        FROM daily GROUP BY 1
    ),
    dev AS (
        SELECT d.event_type, d.v, m.med,
               CAST({o_dround('abs(d.v - m.med)', 9)} AS DOUBLE) AS adev
        FROM daily d JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type,
               CAST({o_dround('quantile_cont(adev, 0.5)', 9)} AS DOUBLE) AS mad
        FROM dev GROUP BY 1
    )
    SELECT d.event_type AS event_type,
           COUNT(*) AS n_days,
           CAST({o_dround('MIN(d.med)', 6)} AS DOUBLE) AS med,
           CAST({o_dround('MIN(m.mad)', 6)} AS DOUBLE) AS mad,
           CAST(SUM(CASE WHEN d.adev > 44478e-4 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY 1 ORDER BY 1
    """,
)
def q124_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: median-absolute-deviation outliers per
    event type over daily totals. MAD replaces q107's mean/stddev when
    the series itself contains the anomalies you're hunting (a single
    spike inflates a stddev enough to hide itself; the median ignores
    it). Threshold = 4.4478·MAD ≈ 3σ for normal data (3 × the 1.4826
    consistency constant, one literal so both engines multiply the same
    double). Exact medians via interpolating percentile — fine here
    because the grain is (event_type, day): a handful of groups with ~a
    season of rows each, AFTER the daily pre-aggregation that did the
    100 TB-sized reduction. For per-key medians over billions of keys
    use approx_percentile (q111's differential bounds the error).

    Determinism: Spark ``percentile`` and DuckDB ``quantile_cont`` share
    midpoint-interpolation semantics but not arithmetic — their raw
    doubles can differ by an ulp, which at a threshold boundary would
    flip n_outliers. Med/adev/mad are therefore rounded at 1e-9 (well
    below the 1e-6 output scale, far above double ulp) in BOTH engines
    before the 4.4478·MAD comparison."""
    from .base import DEC

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(dsum("value").alias("v"))
    med = daily.groupBy("event_type").agg(
        dround(F.expr("percentile(v, 0.5)"), 9).alias("med")
    )
    dev = daily.join(med, "event_type").select(
        "event_type",
        "v",
        "med",
        dround(F.abs(F.col("v") - F.col("med")), 9).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        dround(F.expr("percentile(adev, 0.5)"), 9).alias("mad")
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            dround(F.min("med"), 6).cast("double").alias("med"),
            dround(F.min("mad"), 6).cast("double").alias("mad"),
            F.sum(
                F.when(
                    F.col("adev") > F.lit(4.4478) * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@query(
    "q125_ewma",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               {o_dsum('value')} AS v
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type AS event_type,
           strftime(a.day, '%Y-%m-%d') AS day,
           MIN(a.v) AS v,
           CAST({o_dround(
               o_dec_out(
                   "SUM(" + o_dterm(
                       "pow(7e-1, date_diff('day', b.day, a.day)) * b.v", 9
                   ) + ")", 9)
               + " / "
               + o_dec_out(
                   "SUM(" + o_dterm(
                       "pow(7e-1, date_diff('day', b.day, a.day))", 9
                   ) + ")", 9),
               6)} AS DOUBLE) AS ewma
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type
     AND b.day BETWEEN a.day - INTERVAL 13 DAY AND a.day
    GROUP BY a.event_type, a.day
    ORDER BY event_type, day
    """,
)
def q125_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (α=0.3, 14-day horizon) of
    daily totals per event type — the smoothing primitive between raw
    series and LOCF gap-fill (q95) / fixed rolling windows (q99).
    Infinite-history EWMA is a sequential recurrence; truncating at 14
    days (weight 0.7^14 ≈ 0.7 %) makes it a bounded range self-join that
    any engine parallelizes, with weights renormalized over the days
    actually present (so gaps don't leak mass). Scale shape: the daily
    pre-aggregation is the 100 TB-sized step; the self-join touches only
    the O(types × days) series table with replication bounded by the
    14-day horizon. Weight terms round to 1e-9 and sum through
    decimal(38,9) — pow() ulp differences between engines can't move
    the 1e-6 result."""
    from .base import DEC

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(dsum("value").alias("v"))
    a = daily.alias("a")
    b = daily.alias("b")
    delta = F.datediff(F.col("a.day"), F.col("b.day"))
    w = F.pow(F.lit(0.7), delta)
    wdec = dterm(w, 9)
    wvdec = dterm(w * F.col("b.v"), 9)
    return (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.day") <= F.col("a.day"))
            & (F.col("b.day") >= F.date_sub(F.col("a.day"), 13)),
        )
        .groupBy(
            F.col("a.event_type").alias("event_type"),
            F.date_format(F.col("a.day"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.min(F.col("a.v")).alias("v"),
            dround(
                _dec_out(F.sum(wvdec), 9) / _dec_out(F.sum(wdec), 9), 6
            )
            .cast("double")
            .alias("ewma"),
        )
        .orderBy("event_type", "day")
    )


@query(
    "q127_session_concurrency",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ), f AS (
        SELECT user_id, ts, event_id,
               CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS news
        FROM o
    ), g AS (
        SELECT user_id, ts,
               sum(news) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
        FROM f
    ), sess AS (
        SELECT user_id, sid,
               epoch_us(min(ts)) AS start_us,
               epoch_us(max(ts)) + 1 AS end_us
        FROM g GROUP BY 1, 2
    ), deltas AS (
        SELECT start_us AS ts_us, 1 AS delta FROM sess
        UNION ALL
        SELECT end_us AS ts_us, -1 AS delta FROM sess
    ), runs AS (
        SELECT ts_us, delta,
               SUM(delta) OVER (ORDER BY ts_us, delta
                                ROWS UNBOUNDED PRECEDING) AS run
        FROM deltas
    )
    SELECT strftime(make_timestamp(ts_us), '%Y-%m-%d') AS day,
           CAST(MAX(run) AS BIGINT) AS max_concurrent
    FROM runs GROUP BY 1 ORDER BY 1
    """,
)
def q127_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day, by sweep-line over session
    intervals (30-min-gap sessions, q81's definition; end is exclusive,
    +1 µs past the last event so single-event sessions still count at
    their instant). The oracle runs the textbook GLOBAL running sum; the
    engine runs the distributed form — a two-phase prefix sum: deltas
    bucket by hour, bucket sums take a running total over the O(hours)
    bucket table (the only global window, metadata-sized), and each
    bucket's carry-in joins back so the within-bucket running sum is
    windowed per hour. No single-partition pass ever touches the full
    delta stream — the classic way a sequential scan-line survives
    100 TB. Ties sort (ts, delta) so ends precede starts at the same
    instant; equal-key permutations change only which row holds which
    prefix value, never the per-day max (same multiset)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    news = F.when(
        F.lag("ts").over(w).isNull()
        | (
            ts_micros("ts") - F.lag(ts_micros("ts")).over(w)
            >= 30 * 60 * 1_000_000
        ),
        1,
    ).otherwise(0)
    g = e.select(
        "user_id", "ts", "event_id", news.alias("news")
    ).withColumn(
        "sid",
        F.sum("news").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sess = g.groupBy("user_id", "sid").agg(
        F.min(ts_micros("ts")).alias("start_us"),
        (F.max(ts_micros("ts")) + 1).alias("end_us"),
    )
    deltas = sess.select(
        F.col("start_us").alias("ts_us"), F.lit(1).alias("delta")
    ).unionByName(
        sess.select(F.col("end_us").alias("ts_us"), F.lit(-1).alias("delta"))
    )
    deltas = deltas.withColumn(
        "hr", F.floor(F.col("ts_us") / F.lit(3_600_000_000))
    )
    buckets = deltas.groupBy("hr").agg(F.sum("delta").alias("dsum"))
    wb = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, -1)
    carry = buckets.select(
        "hr", F.coalesce(F.sum("dsum").over(wb), F.lit(0)).alias("carry")
    )
    wi = Window.partitionBy("hr").orderBy("ts_us", "delta").rowsBetween(
        Window.unboundedPreceding, 0
    )
    runs = deltas.join(F.broadcast(carry), "hr").select(
        "ts_us",
        (F.col("carry") + F.sum("delta").over(wi)).alias("run"),
    )
    return (
        runs.groupBy(
            F.date_format(F.timestamp_micros(F.col("ts_us")), "yyyy-MM-dd")
            .alias("day")
        )
        .agg(F.max("run").cast("bigint").alias("max_concurrent"))
        .orderBy("day")
    )


@query(
    "q128_new_vs_returning",
    oracle="""
    WITH peru AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events GROUP BY 1, 2
    ),
    firsts AS (
        SELECT user_id, MIN(day) AS first_day FROM peru GROUP BY 1
    ),
    daily AS (
        SELECT p.day,
               COUNT(*) AS n_active,
               CAST(SUM(CASE WHEN p.day = f.first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new
        FROM peru p JOIN firsts f ON p.user_id = f.user_id
        GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n_active, n_new,
           n_active - n_new AS n_returning,
           CAST(SUM(n_new) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_cumulative
    FROM daily ORDER BY day
    """,
)
def q128_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: per day, active users split into new (first
    ever seen) vs returning, plus the running total of distinct users to
    date — the counterpart of q100's cohort retention. A naive
    cumulative COUNT(DISTINCT) over an expanding window re-scans history
    per day; reducing to (user, day) activity plus a first-seen join
    makes it hash aggregations plus one running sum over the O(days)
    series."""
    e = table(spark, sf_dir, "events")
    peru = e.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    firsts = peru.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = (
        peru.join(firsts, "user_id")
        .groupBy("day")
        .agg(
            F.count("*").alias("n_active"),
            F.sum(
                F.when(F.col("day") == F.col("first_day"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_new"),
        )
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        F.sum("n_new").over(wd).cast("bigint").alias("n_cumulative"),
    ).orderBy("day")


@query(
    "q143_event_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS e0,
               lead(event_type, 1) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS e1,
               lead(event_type, 2) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS e2
        FROM events
    ),
    paths AS (
        SELECT e0 || '>' || e1 || '>' || e2 AS path, COUNT(*) AS n
        FROM seq
        WHERE e0 IS NOT NULL AND e1 IS NOT NULL AND e2 IS NOT NULL
        GROUP BY 1
    )
    SELECT * FROM (
        SELECT path, n FROM paths ORDER BY n DESC, path LIMIT 10)
    ORDER BY path
    """,
)
def q143_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the 10 most common 3-step event-type
    sequences across all user streams — the funnel-discovery twin of
    q101's fixed funnel (there the stages are given; here the data says
    which paths dominate). Plan shape: two lead() calls share ONE
    user-partitioned window sort (ordered by (ts, event_id) — a total
    order, so ties cannot flip paths between engines), then a path-count
    hash aggregate and a TakeOrderedAndProject top-10. No per-user
    arrays are materialized: state per window row is O(2 lookahead),
    so a power user with millions of events streams through (the
    collect_list formulation would OOM on them). At 100 TB the window
    shuffle partitions by user hash — the only shuffle before the
    O(|event-type|³)-bounded count table."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e0"),
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    )
    paths = (
        # All three steps non-null, symmetric with the oracle: a NULL
        # event_type inside the window would otherwise make DuckDB's
        # null-propagating || produce a NULL path while concat_ws SKIPS
        # the null and fabricates a 2-step path (NULL-probe find, r10).
        seq.where(
            F.col("e0").isNotNull()
            & F.col("e1").isNotNull()
            & F.col("e2").isNotNull()
        )
        .select(F.concat_ws(">", "e0", "e1", "e2").alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n"))
    )
    return (
        paths.orderBy(F.col("n").desc(), "path").limit(10).orderBy("path")
    )


@query(
    "q176_linear_interpolation",
    # The dense grid spans each user's observed min..max hour, so the
    # first and last grid points are always observed and every gap has
    # both a previous and a next anchor: the interpolation expression is
    # total. prev/next values are the q95 LOCF windows run both ways;
    # the fraction divides epoch-microsecond bigints cast to double in
    # IDENTICAL operand order in both engines, rounded at 1e-6
    # (magnitude-capped, dround).
    oracle=f"""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               {o_dsum('value')} AS v
        FROM events WHERE user_id % 97 = 0 AND {O_TS_DOMAIN}
        GROUP BY 1, 2
    ),
    grid AS (
        SELECT user_id,
               unnest(generate_series(min(h), max(h),
                                      INTERVAL 1 HOUR)) AS h
        FROM hourly GROUP BY user_id
    ),
    joined AS (
        SELECT g.user_id, g.h, hv.v FROM grid g
        LEFT JOIN hourly hv ON g.user_id = hv.user_id AND g.h = hv.h
    ),
    anchored AS (
        SELECT user_id, h, v,
               last_value(v IGNORE NULLS) OVER w_back AS prev_v,
               last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                 OVER w_back AS prev_h,
               first_value(v IGNORE NULLS) OVER w_fwd AS next_v,
               first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                 OVER w_fwd AS next_h
        FROM joined
        WINDOW w_back AS (PARTITION BY user_id ORDER BY h
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_fwd AS (PARTITION BY user_id ORDER BY h
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, epoch_us(h) AS hour_us,
           CASE WHEN v IS NOT NULL THEN v
                ELSE CAST({o_dround(
                     "prev_v + (next_v - prev_v)"
                     " * (CAST(epoch_us(h) - epoch_us(prev_h) AS DOUBLE)"
                     " / CAST(epoch_us(next_h) - epoch_us(prev_h)"
                     " AS DOUBLE))", 6)} AS DOUBLE) END AS v_interp,
           CAST(v IS NULL AS INT) AS is_gap
    FROM anchored
    ORDER BY user_id, hour_us
    """,
)
def q176_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-grid gap filling by LINEAR interpolation — the numeric
    sibling of q95's LOCF: each missing hour gets the value on the
    straight line between its previous and next observed points, the
    fill a metrics/feature pipeline wants for continuously-varying
    signals (LOCF is for step signals). Plan shape is q95 plus one
    window: the same per-key bounds grid (sequence+explode, O(keys ×
    span) rows independent of skew), the same backward
    last(ignorenulls) window, and a forward first(ignorenulls) window
    over the SAME per-user sort — Spark computes both window frames
    from one partition sort, so the second direction costs no extra
    shuffle. At 100 TB the state per key is one row either way; nothing
    here is quadratic in gap length."""
    e = table(spark, sf_dir, "events").where(
        (F.col("user_id") % 97 == 0) & ts_in_domain()
    )
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(dsum("value").alias("v"))
    grid = (
        hourly.groupBy("user_id")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("h"),
        )
    )
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("v").isNotNull(), F.col("h"))
    joined = grid.join(hourly, ["user_id", "h"], "left").select(
        "user_id",
        "h",
        "v",
        F.last("v", ignorenulls=True).over(w_back).alias("prev_v"),
        F.last(obs_h, ignorenulls=True).over(w_back).alias("prev_h"),
        F.first("v", ignorenulls=True).over(w_fwd).alias("next_v"),
        F.first(obs_h, ignorenulls=True).over(w_fwd).alias("next_h"),
    )
    frac = (
        (ts_micros("h") - ts_micros("prev_h")).cast("double")
        / (ts_micros("next_h") - ts_micros("prev_h")).cast("double")
    )
    interp = dround(
        F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac, 6
    ).cast("double")
    return (
        joined.select(
            "user_id",
            ts_micros("h").alias("hour_us"),
            F.when(F.col("v").isNotNull(), F.col("v"))
            .otherwise(interp)
            .alias("v_interp"),
            F.col("v").isNull().cast("int").alias("is_gap"),
        )
        .orderBy("user_id", "hour_us")
    )


@query(
    "q177_cusum_changepoint",
    # The running CUSUM accumulates 1e-6-rounded deviations through
    # DECIMAL(38,6) — exact, so the argmax tie-break (largest |cusum|,
    # earliest day) sees identical values in both engines.
    oracle=f"""
    WITH daily AS (
        SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               {o_dsum('value')} AS x
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               {o_dec_out("SUM(" + o_dterm('x', 6) + ")", 6)} / COUNT(*)
                 AS mu,
               COUNT(*) AS n_days
        FROM daily GROUP BY 1
    ),
    cusum AS (
        SELECT d.event_type, d.day, s.n_days,
               SUM({o_dterm('d.x - s.mu', 6)})
                 OVER (PARTITION BY d.event_type ORDER BY d.day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS c
        FROM daily d JOIN stats s ON d.event_type = s.event_type
    ),
    ranked AS (
        SELECT event_type, day, n_days, c,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY abs(c) DESC, day) AS rn
        FROM cusum
    )
    SELECT event_type, day AS changepoint_day, n_days,
           {o_dec_out('c', 6)} AS cusum
    FROM ranked WHERE rn = 1
    ORDER BY event_type
    """,
)
def q177_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection: for each event type, the day where
    the cumulative sum of deviations from the series mean peaks in
    magnitude — the classic single-changepoint estimator (a level shift
    makes |CUSUM| maximal at the shift). Everything windowed runs over
    the DAILY pre-aggregate (O(types × days) rows), never the raw event
    stream — the q127 sweep-line rule. The running sum accumulates
    exact decimals so the argmax is partition-order-proof, the
    per-type mean rides back as a broadcast-sized join, and the final
    argmax is a row_number over the same per-type sort the CUSUM window
    already established (one shuffle keyed on event_type end to end).
    At 100 TB with high-cardinality keys the same plan holds — the
    window tables stay days-sized per key."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(dsum("value").alias("x"))
    stats = daily.groupBy("event_type").agg(
        (_dec_out(F.sum(dterm("x", 6)), 6) / F.count("*")).alias("mu"),
        F.count("*").alias("n_days"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = (
        daily.join(stats, "event_type")
        .select(
            "event_type",
            "day",
            "n_days",
            F.sum(dterm(F.col("x") - F.col("mu"), 6))
            .over(w)
            .alias("c"),
        )
    )
    w2 = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("c")).desc(), "day"
    )
    return (
        cusum.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("changepoint_day"),
            "n_days",
            _dec_out(F.col("c"), 6).alias("cusum"),
        )
        .orderBy("event_type")
    )


@query(
    "q203_holt_forecast",
    # The level/trend recursion is linear in the O(days) series, so the
    # oracle expresses it as a recursive CTE and Spark as an array fold
    # — both evaluate THE SAME double expressions in the same order
    # (alpha=0.5, beta literals 0.3/0.7 written out on both sides, no
    # derived 1-beta), so the trajectories are bitwise identical;
    # forecasts round at 1e-6.
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT l_shipdate AS day,
               (CASE WHEN ABS(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END))) < 1000000000 THEN CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)), 6) AS DOUBLE) ELSE CAST(CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)), 0) AS DECIMAL(38,0)) AS DOUBLE) END) AS rev
        FROM lineitem GROUP BY l_shipdate
    ),
    idx AS (
        SELECT ROW_NUMBER() OVER (ORDER BY day) AS t, rev FROM daily
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM idx),
    s AS (
        SELECT 2 AS t,
               0.5 * y2.rev + 0.5 * (y1.rev + (y2.rev - y1.rev)) AS l,
               0.3 * ((0.5 * y2.rev + 0.5 * (y1.rev + (y2.rev - y1.rev)))
                      - y1.rev)
                 + 0.7 * (y2.rev - y1.rev) AS b
        FROM idx y1, idx y2 WHERE y1.t = 1 AND y2.t = 2
        UNION ALL
        SELECT s.t + 1,
               0.5 * y.rev + 0.5 * (s.l + s.b),
               0.3 * ((0.5 * y.rev + 0.5 * (s.l + s.b)) - s.l) + 0.7 * s.b
        FROM s JOIN idx y ON y.t = s.t + 1, n
        WHERE s.t < n.n
    ),
    fin AS (SELECT l, b FROM s, n WHERE s.t = n.n)
    SELECT h.h,
           CAST(ROUND(fin.l + h.h * fin.b, 6) AS DOUBLE) AS forecast
    FROM (SELECT UNNEST(range(1, 8)) AS h) h CROSS JOIN fin
    ORDER BY h.h
    """,
)
def q203_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level+trend) over the daily
    revenue series, with a 7-day-ahead linear forecast. The fact table
    collapses to an O(days) series in one hash agg; the inherently
    sequential recursion then runs as a single JVM array fold
    (``F.aggregate``) over that metadata-sized series — the standard
    split for recursive time-series ops at 100 TB: distribute the
    heavy reduction, fold the small recurrence. Initialization
    l=y1, b=y2-y1; alpha=0.5, beta=0.3."""
    from .base import DEC

    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").alias("day")).agg(
        _dec_out(F.sum(dterm("l_extendedprice", 6)), 6)
        .alias("rev")
    )
    # Holt needs two points to seed (l=y1, b=y2-y1): on a shorter
    # series the oracle's recursion base matches nothing and emits zero
    # forecasts. r10 guarded that with `.where(size(ys) >= 2)` — but a
    # Filter whose predicate re-derives size(transform(array_sort(…)))
    # under the big fold projection blocks project collapse and roughly
    # doubled the per-call plan cost (r10 VERDICT); a post-fold
    # `isNotNull(fin)` guard is worse still (the pushed predicate
    # inlines the ENTIRE fold into the Filter). Guard on a plain count
    # column from the same aggregate instead: the pushed filter is just
    # `n >= 2`, the fold appears exactly once in the plan, and the rows
    # it runs on are already length-≥2 (try_element_at + non-negative
    # slice length keep it crash-proof regardless).
    series = (
        daily.agg(
            F.array_sort(F.collect_list(F.struct("day", "rev"))).alias("arr"),
            F.count("*").alias("n"),
        )
        .select(F.transform("arr", lambda x: x["rev"]).alias("ys"), "n")
        .where(F.col("n") >= 2)
    )
    # WITH RECURSIVE above == this fold: acc = (l, b), seeded from
    # y1/y2, advanced once per remaining element in day order.
    fin = series.select(
        F.aggregate(
            F.slice(F.col("ys"), 2, F.greatest(F.size("ys") - 1, F.lit(0))),
            F.struct(
                F.try_element_at("ys", F.lit(1)).alias("l"),
                (
                    F.try_element_at("ys", F.lit(2))
                    - F.try_element_at("ys", F.lit(1))
                ).alias("b"),
            ),
            lambda acc, y: F.struct(
                (F.lit(0.5) * y + F.lit(0.5) * (acc["l"] + acc["b"])).alias(
                    "l"
                )
            ).withField(
                "b",
                F.lit(0.3)
                * (
                    (F.lit(0.5) * y + F.lit(0.5) * (acc["l"] + acc["b"]))
                    - acc["l"]
                )
                + F.lit(0.7) * acc["b"],
            ),
        ).alias("fin")
    )
    # The 7 horizons come from exploding a literal sequence on the
    # 1-row fold output — no spark.range side, no BroadcastExchange,
    # no nested-loop join (all pure plan overhead at this size).
    return (
        fin.select(
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.lit(7).cast("long"))
            ).alias("h"),
            "fin",
        )
        .select(
            "h",
            F.round(
                F.col("fin.l") + F.col("h") * F.col("fin.b"), 6
            )
            .cast("double")
            .alias("forecast"),
        )
        .orderBy("h")
    )


@query(
    "q210_twap_per_user",
    # Interval weights are exact integer microsecond deltas; the
    # weighted sum runs in DECIMAL (value is 2-decimal money-like), and
    # only the final ratio is a double, magnitude-capped-rounded at 1e-6
    # (dround/o_dround, r11). Tie-broken on (ts, event_id) so duplicate
    # timestamps pair identically in both engines.
    oracle=f"""
    WITH seq AS (
        SELECT user_id, value,
               LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) - epoch_us(ts) AS dt_us
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dt_us) AS BIGINT) AS span_us,
           CAST({o_dround(
               o_dec_out('SUM((CASE WHEN ABS((CASE WHEN ISFINITE(value) THEN (value) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(value) THEN (value) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(value) THEN (value) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(value) THEN (value) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END) * dt_us)', 6)
               + ' / SUM(dt_us)', 6)} AS DOUBLE) AS twap
    FROM seq WHERE dt_us IS NOT NULL AND dt_us > 0
      AND (value IS NULL OR ISFINITE(value))
    GROUP BY user_id ORDER BY user_id
    """,
)
def q210_twap_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the event value per user (the TWAP /
    time_weight operator of time-series stores): each reading is
    weighted by the microseconds until the user's next event, so
    long-held values dominate regardless of sampling rate. One window
    (lead) PARTITIONED BY user — keyed, never global — then one hash
    agg; zero-length intervals (duplicate timestamps) carry no weight
    and the final reading has no successor, both dropped exactly as the
    oracle states. At 100 TB user_id partitions the sort and the
    weighted sums are decimal-partial."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        "user_id",
        "value",
        (
            F.lead(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("dt_us"),
    )
    # A non-finite reading (corrupt sensor value) is dropped like a
    # zero-length interval: DECIMAL(19,6) could not even hold 1e15, and
    # CAST(inf AS DECIMAL) is an ANSI job-killer (r11 extreme probe).
    v = F.col("value")
    keep_value = v.isNull() | (
        ~F.isnan(v) & (v != F.lit(float("inf"))) & (v != F.lit(float("-inf")))
    )
    return (
        seq.where(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0) & keep_value)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("dt_us").alias("span_us"),
            dround(
                # dterm (not a bare decimal cast) mirrors the oracle's
                # magnitude branch: a finite reading >= 1e9 with a
                # fractional part (e.g. 1.5e9 + 0.25) rounds to whole
                # units on BOTH sides instead of only in DuckDB
                # (advisor find, r11).
                _dec_out(
                    F.sum(dterm(F.col("value"), 6) * F.col("dt_us")),
                    6,
                )
                / F.sum("dt_us"),
                6,
            )
            .cast("double")
            .alias("twap"),
        )
        .orderBy("user_id")
    )


@query(
    "q217_transition_entropy",
    # Transition counts are exact; each -p·ln(p) term is one double
    # formula in identical operand order rounded at 1e-9, decimal-summed
    # per user (≤25 terms), total rounded at 1e-6. Ordering ties break
    # on (ts, event_id) identically in both engines.
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS a,
               LEAD(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS b
        FROM events
    ),
    trans AS (
        SELECT user_id, a, b, CAST(COUNT(*) AS BIGINT) AS nab
        FROM seq WHERE b IS NOT NULL GROUP BY user_id, a, b
    ),
    m AS (
        SELECT user_id, nab,
               SUM(nab) OVER (PARTITION BY user_id) AS n
        FROM trans
    )
    SELECT user_id,
           CAST(SUM(nab) AS BIGINT) AS n_transitions,
           CAST(ROUND(CAST(SUM(CAST(ROUND(
               -(CAST(nab AS DOUBLE) / n) * LN(CAST(nab AS DOUBLE) / n), 9)
               AS DECIMAL(38,9))) AS DOUBLE), 6) AS DOUBLE) AS entropy_nats
    FROM m GROUP BY user_id ORDER BY user_id
    """,
)
def q217_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral predictability: Shannon entropy (nats) of
    the user's event-transition distribution (q106's corpus transition
    matrix, taken to the per-user grain — low entropy = scripted/bot
    behavior, high = diffuse browsing). One keyed lead window builds
    transitions, one hash agg counts them, and the entropy terms
    decimal-sum per user (≤ |event types|² terms each). At 100 TB
    user_id partitions both the window sort and the aggs; nothing runs
    globally."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    )
    trans = (
        seq.where(F.col("b").isNotNull())
        .groupBy("user_id", "a", "b")
        .agg(F.count("*").alias("nab"))
    )
    m = trans.select(
        "user_id",
        "nab",
        F.sum("nab").over(Window.partitionBy("user_id")).alias("n"),
    )
    p = F.col("nab").cast("double") / F.col("n")
    return (
        m.groupBy("user_id")
        .agg(
            F.sum("nab").alias("n_transitions"),
            F.round(
                F.sum(
                    F.round(-p * F.log(p), 9).cast("decimal(38,9)")
                ).cast("double"),
                6,
            )
            .cast("double")
            .alias("entropy_nats"),
        )
        .orderBy("user_id")
    )


@query(
    "q235_cohort_ltv",
    # Cohort revenue sums stage in DECIMAL; the cumulative LTV divides
    # a decimal running sum by the exact cohort size — windows run over
    # the O(cohorts × offsets) aggregate only.
    oracle=f"""
    WITH first_seen AS (
        SELECT user_id, MIN(date_trunc('week', ts)) AS cohort
        FROM events GROUP BY user_id
    ),
    sizes AS (
        SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_users
        FROM first_seen GROUP BY cohort
    ),
    rev AS (
        SELECT f.cohort,
               CAST(FLOOR((epoch_us(date_trunc('week', e.ts))
                           - epoch_us(f.cohort))
                          / (7 * 86400000000.0)) AS BIGINT) AS offset_w,
               SUM({o_dterm('e.value', 6)}) AS v
        FROM events e
        JOIN first_seen f ON f.user_id = e.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY f.cohort, 2
    )
    SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort,
           r.offset_w,
           s.cohort_users,
           CAST({o_dround(
               o_dec_out(
                   "SUM(r.v) OVER (PARTITION BY r.cohort ORDER BY r.offset_w"
                   " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 6)
               + " / s.cohort_users", 6)} AS DOUBLE) AS cum_ltv_per_user
    FROM rev r JOIN sizes s ON s.cohort = r.cohort
    ORDER BY cohort, offset_w
    """,
)
def q235_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by first-seen week,
    purchase revenue accumulated per week-offset, divided by cohort
    size — the money twin of q100's retention counts and the curve
    every growth model is fit against. The per-(cohort, offset) sums
    are one keyed agg after a user-keyed first-seen join; the running
    LTV windows over the O(cohorts × offsets) table. Decimal revenue
    staging keeps the curve exact."""
    from .base import DEC

    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    week_delta_us = F.unix_micros(
        F.date_trunc("week", "ts").cast("timestamp")
    ) - F.unix_micros(F.col("cohort").cast("timestamp"))
    rev = (
        e.where(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .groupBy(
            "cohort",
            F.floor(week_delta_us / (7 * 86400000000.0))
            .cast("long")
            .alias("offset_w"),
        )
        .agg(F.sum(dterm("value", 6)).alias("v"))
    )
    sizes = first_seen.groupBy("cohort").agg(
        F.count("*").alias("cohort_users")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("offset_w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rev.join(sizes, "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            "offset_w",
            "cohort_users",
            dround(
                _dec_out(F.sum("v").over(w), 6) / F.col("cohort_users"), 6
            )
            .cast("double")
            .alias("cum_ltv_per_user"),
        )
        .orderBy("cohort", "offset_w")
    )


@query(
    "q237_seasonality_strength",
    # Daily revenues are decimal-rounded doubles; all moment sums stage
    # in DECIMAL (scale-6 squares at 19,6 — the q196 overflow rule).
    # The final 7-term reductions over the per-dow rows (Σsx, Σsxx,
    # Σsx²/n) are ALSO decimal-staged (round 1e-9 → DECIMAL(38,9) sum)
    # so no unordered double addition remains; the eta-squared ratio is
    # then one double formula, rounded at 1e-6.
    oracle="""
    WITH daily AS (
        SELECT l_shipdate AS day,
               CAST(strftime(l_shipdate, '%w') AS INT) AS dow,
               (CASE WHEN ABS(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END))) < 1000000000 THEN CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)), 6) AS DOUBLE) ELSE CAST(CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)), 0) AS DECIMAL(38,0)) AS DOUBLE) END) AS rev
        FROM lineitem GROUP BY l_shipdate
    ),
    dd AS (SELECT * FROM daily WHERE ABS(rev) < 1000000000.0),
    g AS (
        -- Exact-moment domain on the daily series (q232 rule, r11).
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(rev) THEN (rev) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(rev) THEN (rev) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(rev) THEN (rev) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(rev) THEN (rev) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)) AS DOUBLE) AS sx,
               CAST(SUM(CAST(rev AS DECIMAL(19,6))
                        * CAST(rev AS DECIMAL(19,6))) AS DOUBLE) AS sxx
        FROM dd GROUP BY dow
    ),
    g2 AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_days,
               CAST(SUM(CAST(ROUND(sx * sx / n, 9) AS DECIMAL(38,9)))
                    AS DOUBLE) AS sb,
               CAST(SUM(CAST(ROUND(sx, 9) AS DECIMAL(38,9)))
                    AS DOUBLE) AS ssx,
               CAST(SUM(CAST(ROUND(sxx, 9) AS DECIMAL(38,9)))
                    AS DOUBLE) AS ssxx
        FROM g
    )
    SELECT n_days,
           CAST(ROUND(
             (sb - ssx * ssx / n_days)
             / (ssxx - ssx * ssx / n_days), 6) AS DOUBLE) AS eta_sq_dow
    FROM g2
    """,
)
def q237_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality strength of daily revenue: eta-squared —
    the share of total variance explained by the day-of-week factor
    (between-group SS / total SS), the one-number screen run before
    bothering with q159's seasonal baselines or q196's ACF. All moments
    reduce per weekday (7 groups) with decimal staging; the ratio is
    O(7) arithmetic. Note SUM(sx*sx/n) must aggregate the PER-GROUP
    ratio — written identically in both engines."""
    from .base import DEC

    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").alias("day")).agg(
        _dec_out(F.sum(dterm("l_extendedprice", 6)), 6)
        .alias("rev"),
    ).select(
        "rev",
        # DuckDB strftime %w: Sunday=0. Spark dayofweek: Sunday=1.
        (F.dayofweek("day") - 1).cast("int").alias("dow"),
    )
    d6 = "decimal(19,6)"
    dd = daily.where(F.abs("rev") < 1e9)  # exact-moment domain (r11)
    g = dd.groupBy("dow").agg(
        F.count("*").alias("n"),
        F.sum(dterm("rev", 6)).cast("double").alias("sx"),
        F.sum(F.col("rev").cast(d6) * F.col("rev").cast(d6))
        .cast("double")
        .alias("sxx"),
    )
    d9 = "decimal(38,9)"
    g2 = g.agg(
        F.sum("n").cast("long").alias("n_days"),
        F.sum(
            F.round(F.col("sx") * F.col("sx") / F.col("n"), 9).cast(d9)
        )
        .cast("double")
        .alias("sb"),
        F.sum(F.round(F.col("sx"), 9).cast(d9)).cast("double").alias("ssx"),
        F.sum(F.round(F.col("sxx"), 9).cast(d9)).cast("double").alias("ssxx"),
    )
    between = F.col("sb") - F.col("ssx") * F.col("ssx") / F.col("n_days")
    total = F.col("ssxx") - F.col("ssx") * F.col("ssx") / F.col("n_days")
    return g2.select(
        "n_days",
        F.round(between / total, 6).cast("double").alias("eta_sq_dow"),
    )


@query(
    "q238_revenue_peaks",
    # Peak detection is pure comparisons of decimal-rounded daily
    # revenues against lagged/led neighbors and a decimal-exact global
    # mean threshold — integer/exact logic, deterministic top-10 cut on
    # (rev DESC, day).
    oracle="""
    WITH daily AS (
        SELECT l_shipdate AS day,
               (CASE WHEN ABS(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END))) < 1000000000 THEN CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)), 6) AS DOUBLE) ELSE CAST(CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(l_extendedprice) THEN (l_extendedprice) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)), 0) AS DECIMAL(38,0)) AS DOUBLE) END) AS rev
        FROM lineitem GROUP BY l_shipdate
    ),
    ctx AS (
        SELECT day, rev,
               LAG(rev) OVER (ORDER BY day) AS prev,
               LEAD(rev) OVER (ORDER BY day) AS next,
               (CASE WHEN ABS(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(rev) THEN (rev) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(rev) THEN (rev) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(rev) THEN (rev) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(rev) THEN (rev) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)) OVER () / COUNT(*) OVER ()) < 1000000000 THEN (CASE WHEN ABS(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(rev) THEN (rev) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(rev) THEN (rev) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(rev) THEN (rev) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(rev) THEN (rev) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)) OVER () / COUNT(*) OVER ()) < 1000000000 THEN CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(rev) THEN (rev) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(rev) THEN (rev) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(rev) THEN (rev) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(rev) THEN (rev) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)) OVER () / COUNT(*) OVER (), 6) AS DOUBLE) ELSE CAST(CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(rev) THEN (rev) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(rev) THEN (rev) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(rev) THEN (rev) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(rev) THEN (rev) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)) OVER () / COUNT(*) OVER (), 0) AS DECIMAL(38,0)) AS DOUBLE) END) ELSE CAST(CAST(ROUND(SUM((CASE WHEN ABS((CASE WHEN ISFINITE(rev) THEN (rev) END)) < 1000000000 THEN CAST(ROUND((CASE WHEN ISFINITE(rev) THEN (rev) END), 6) AS DECIMAL(38,6)) WHEN ABS((CASE WHEN ISFINITE(rev) THEN (rev) END)) < 9007199254740992 THEN CAST(CAST(ROUND((CASE WHEN ISFINITE(rev) THEN (rev) END), 0) AS DECIMAL(38,0)) AS DECIMAL(38,6)) END)) OVER () / COUNT(*) OVER (), 0) AS DECIMAL(38,0)) AS DOUBLE) END) AS mean_rev
        FROM daily
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, rev,
           CAST(ROUND(rev / mean_rev, 6) AS DOUBLE) AS rel_height
    FROM ctx
    WHERE prev IS NOT NULL AND next IS NOT NULL
      AND rev > prev AND rev > next AND rev > 1.5 * mean_rev
    ORDER BY rev DESC, day LIMIT 10
    """,
)
def q238_revenue_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection on the daily revenue series: days strictly
    above both calendar neighbors AND 1.5× the corpus mean — the spike
    report behind incident/promo forensics (q159 finds hour-of-day
    anomalies; this finds day-level bursts). Neighbor comparisons are
    one ordered window over O(days); the mean threshold is decimal-
    exact; the top-10 cut is tie-broken on (rev DESC, day)."""
    from .base import DEC

    li = table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").alias("day")).agg(
        _dec_out(F.sum(dterm("l_extendedprice", 6)), 6)
        .alias("rev")
    )
    wd = Window.orderBy("day")
    wa = Window.partitionBy()
    ctx = daily.select(
        "day",
        "rev",
        F.lag("rev").over(wd).alias("prev"),
        F.lead("rev").over(wd).alias("next"),
        # _dec_out mirrors the oracle's magnitude-branched windowed mean
        # (whole units when the mean >= 1e9 — advisor, r11).
        _dec_out(
            F.sum(dterm("rev", 6)).over(wa) / F.count("*").over(wa), 6
        ).alias("mean_rev"),
    )
    return (
        ctx.where(
            F.col("prev").isNotNull()
            & F.col("next").isNotNull()
            & (F.col("rev") > F.col("prev"))
            & (F.col("rev") > F.col("next"))
            & (F.col("rev") > 1.5 * F.col("mean_rev"))
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "rev",
            F.round(F.col("rev") / F.col("mean_rev"), 6)
            .cast("double")
            .alias("rel_height"),
        )
        .orderBy(F.col("rev").desc(), "day")
        .limit(10)
    )


def _markov_oracle(steps: int = 16) -> str:
    """Unrolled power-iteration oracle: DuckDB's recursive CTEs forbid
    aggregation in the recursive member, so each of the ``steps``
    matrix-vector products is its own CTE. Per-step products round at
    1e-12 then decimal-sum (order-independent), exactly mirroring the
    Spark loop."""
    ctes = ["""
    seq AS (
        SELECT user_id, event_type AS a,
               LEAD(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS b
        FROM events
    ),
    t AS (
        SELECT a, b,
               CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY a) AS p
        FROM seq WHERE a IS NOT NULL AND b IS NOT NULL GROUP BY a, b
    ),
    states AS (SELECT DISTINCT a AS s FROM t),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM states),
    v0 AS (SELECT s, 1.0 / n.k AS p FROM states, n)"""]
    for i in range(1, steps + 1):
        ctes.append(f"""
    v{i} AS (
        SELECT t.b AS s,
               CAST(SUM(CAST(ROUND(v{i-1}.p * t.p, 12) AS DECIMAL(38,12)))
                    AS DOUBLE) AS p
        FROM v{i-1} JOIN t ON t.a = v{i-1}.s
        GROUP BY t.b
    )""")
    return (
        "    WITH" + ",".join(ctes) + f"""
    SELECT s AS state, CAST(ROUND(p, 6) AS DOUBLE) AS stationary_p
    FROM v{steps} ORDER BY state
    """
    )


@query("q239_markov_stationary", oracle=_markov_oracle())
def q239_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain (q106's
    transition matrix taken to its fixed point): 16 synchronized
    power-iteration steps from the uniform vector — both engines
    compute the IDENTICAL 16-step trajectory (per-step products round
    at 1e-12 HALF_UP and exact-decimal-sum), so the check is exact
    without claiming numerical convergence.

    The one fact-scale stage is the distributed transition count; the
    matrix it reduces to is O(|event types|²) rows (≤ 25 here), so the
    fixed-point fold runs DRIVER-side on that metadata-sized state —
    the kmeans-centroid rule (collect only k-bounded aggregates, never
    fact data; `operators/kmeans.py` precedent). The earlier form
    iterated the 5-row vector through 16 chained Spark join+agg jobs:
    ~1.4 s of pure job-scheduling/plan-compile overhead at ANY data
    scale (measured r9, SCALE.md), zero parallelism gained. Per-step
    arithmetic is bit-identical to the SQL oracle's CTE chain:
    round(p·tp, 12) is BigDecimal-of-double-repr HALF_UP in Spark and
    ``Decimal(repr(x)).quantize(1e-12, HALF_UP)`` here, partial sums
    are exact decimals, and the final double cast is correctly rounded
    in both runtimes (pinned by the third-engine model in
    tests/test_third_engine_timeseries_remainder.py)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    )
    t = (
        # a IS NOT NULL symmetrically with the oracle's t CTE (ADVICE r9):
        # without it a NULL event_type with a non-null successor would put
        # a NULL row in the oracle's states CTE — its COUNT(*) denominator
        # would then be k+1 vs _power_iterate's k (which drops NULL keys
        # before seeding) and every stationary_p would diverge.
        seq.where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count("*").alias("nab"))
        .withColumn(
            "p",
            F.col("nab").cast("double")
            / F.sum("nab").over(Window.partitionBy("a")),
        )
        .select("a", "b", F.col("p").alias("tp"))
    )
    cells = t.collect()  # metadata-sized: |event types|² rows
    v = _power_iterate({(r["a"], r["b"]): r["tp"] for r in cells}, steps=16)
    if not v:
        return spark.createDataFrame([], "state string, stationary_p double")
    out = spark.createDataFrame(
        sorted(v.items()), "state string, p double"
    )
    return out.select(
        "state",
        F.round("p", 6).cast("double").alias("stationary_p"),
    ).orderBy("state")


def _power_iterate(
    tp: dict[tuple[str, str], float], steps: int
) -> dict[str, float]:
    """q239's driver-side fixed-point fold, kept engine-portable: start
    uniform over the SOURCE states (states appearing only as targets get
    no initial mass, matching the SQL oracle's seed CTE), and per step
    accumulate round(vₐ·tp_{ab}, 12) terms — HALF_UP on the decimal the
    double prints as, exactly Spark's F.round/DuckDB's ROUND — through
    exact decimal sums before the correctly-rounded double cast. Mass
    reaching a state with no outgoing transitions leaves the vector on
    the NEXT step (the matrix is row-substochastic there), same as the
    join-based form this replaced. NULL-keyed cells are dropped here
    only as a defensive belt: since the r9 ADVICE fix both q239's Spark
    plan and its oracle filter ``a IS NOT NULL AND b IS NOT NULL``
    before building the matrix, so the seed denominators agree by
    construction and no NULL key should ever reach this fold."""
    from decimal import ROUND_HALF_UP, Decimal

    tp = {
        (a, b): p
        for (a, b), p in tp.items()
        if a is not None and b is not None
    }
    states = sorted({a for a, _ in tp})
    if not states:
        return {}
    q12 = Decimal(1).scaleb(-12)
    v = {s: 1.0 / float(len(states)) for s in states}
    for _ in range(steps):
        nxt: dict[str, Decimal] = {}
        for (a, b), p_ab in tp.items():
            if a in v:
                term = Decimal(repr(v[a] * p_ab)).quantize(
                    q12, ROUND_HALF_UP
                )
                nxt[b] = nxt.get(b, Decimal(0)) + term
        v = {b: float(d) for b, d in nxt.items()}
    return v
