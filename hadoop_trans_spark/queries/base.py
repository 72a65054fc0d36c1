"""Query registry + cross-engine determinism helpers.

The driver's t2 gate runs each ``QUERIES[name]`` on Spark and the matching
``ORACLE[name]`` on DuckDB over the same parquet, then compares row count,
schema, and an order-insensitive value hash (columns sorted by name). The
helpers below exist to make Spark and DuckDB produce *bitwise identical*
values:

  * Money/double aggregates: sum in DECIMAL(38,6) (exact, order-independent)
    then round+cast back to double — float summation order can differ
    between engines and between Spark task schedules, decimals cannot.
  * Timestamps: compared as epoch-microseconds (bigint) or formatted
    strings, never as raw timestamp values (naive-vs-UTC repr differs).
  * Arrays: joined to strings after an explicit sort where order is not
    semantic.
  * Every query ends with a deterministic ORDER BY on a key.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import VEC_CAP, vec_usable, vec_valid  # noqa: F401

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query and (optionally) its DuckDB oracle SQL.

    Queries without an oracle get the driver's weaker rows-only check
    (reserved for genuinely non-SQL-expressible operators).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# --- determinism helpers (Spark side) ---------------------------------------

DEC = "decimal(38,6)"


INF = float("inf")

# 2^53 — the largest magnitude where every integer is exactly
# representable in a double, i.e. where the dterm units branch is
# exact AND fits decimal(38,0) on both engines. Shared by dterm and
# o_dterm so the engine and oracle branch identically (r12).
EXACT_INT_CAP = float(2**53)


def _finite(c: Column) -> Column:
    """``c`` where finite, NULL otherwise (NaN/±inf excluded like NULL).

    DECIMAL cannot represent non-finite doubles: CAST(inf AS DECIMAL)
    raises in DuckDB and in Spark 4 ANSI mode — ONE corrupt sensor value
    in a 100 TB events table would kill every money-sum job (r11 extreme
    probe: 19 queries crashed on a single injected inf). The decimal
    aggregates are therefore defined over FINITE inputs, with non-finite
    excluded symmetrically on both engines — the same total extension
    SQL aggregates use for NULL. Queries that want IEEE propagation use
    plain double sums instead.
    """
    # One abs + one comparison: abs(NaN) < inf and abs(±inf) < inf are
    # both false, so the single predicate excludes every non-finite.
    return F.when(F.abs(c) < F.lit(INF), c)


def _dec_out(s: Column, scale: int) -> Column:
    """DECIMAL aggregate → double, identical across engines at ANY
    magnitude.

    Below the 2^53 cap both engines' decimal→double conversions are a
    single correctly-rounded step and agree. Above it, DuckDB converts
    the scaled int128 to double and THEN divides by 10^scale — a double
    rounding that differs from Spark's one-step BigDecimal conversion
    by 1 ulp (r11 extreme probe: a 2e15 sum came back …167.8 vs
    …167.5). Rounding the aggregate to whole units first keeps the
    conversion single-step on both sides; the sub-unit loss is a
    relative error < 1e-15 at that magnitude.
    """
    cap = 10.0 ** (15 - scale)
    return (
        F.when(F.abs(s) < F.lit(cap), F.round(s, scale).cast("double"))
        .otherwise(F.round(s, 0).cast("decimal(38,0)").cast("double"))
    )


def dsum(col: Column | str, scale: int = 6) -> Column:
    """Order-independent sum of a double column, returned as double.

    Decimal addition is exact, so the result is identical regardless of
    partitioning / AQE decisions / engine — unlike naive double summation.
    Non-finite inputs are excluded like NULL and each element/output
    conversion is magnitude-branched (see _finite/dterm/_dec_out).
    """
    c = F.col(col) if isinstance(col, str) else col
    return _dec_out(F.sum(dterm(c, scale)), scale)


def davg(col: Column | str, scale: int = 6) -> Column:
    """Order-independent average of a double column, as double.

    Denominator counts the same finite rows the numerator sums, so an
    excluded NaN/inf row does not drag the mean (see _finite).
    """
    c = F.col(col) if isinstance(col, str) else col
    f = _finite(c)
    return _dec_out(F.sum(dterm(c, scale)) / F.count(f), scale)


def dterm(col: Column | str, scale: int = 9) -> Column:
    """Deterministic per-term DECIMAL for the round-then-decimal-sum
    pattern (q133/q167 family): ROUND at ``scale`` while the scaled
    value stays inside 2^53, whole units above.

    Both engines compute the same IEEE double for a term; the divergence
    is in double→DECIMAL conversion — Spark goes through the shortest
    decimal repr (BigDecimal) while DuckDB scales through doubles
    (x·10^scale), so once |x|·10^scale exceeds 2^53 the engines disagree
    in the low digits (r11 extreme probe: ±1e15 credits differed in the
    last unit). Below the cap both paths are bit-identical; above it,
    rounding to whole units keeps the conversion exact on both sides.
    Domain: |x| < 2^53 (beyond that even the units branch diverges —
    Spark's shortest repr of a >2^53 double no longer spells its exact
    integer value). Non-finite terms are excluded like NULL (_finite).
    """
    c = F.col(col) if isinstance(col, str) else col
    cap = 10.0 ** (15 - scale)
    # Hot-path form: ONE abs feeds both branch tests, and the implicit
    # otherwise-NULL IS the non-finite exclusion (abs(NaN/±inf) < cap
    # and < inf are both false — no separate isnan/_finite pass).
    # Spark's double→DECIMAL cast already rounds HALF_UP at the target
    # scale (Decimal.changePrecision), so a pre-ROUND is redundant work
    # per element — verified tie-identical (including exact .5 scaled
    # ties like 0.0078125) by the r11 micro-test. The DuckDB mirror
    # KEEPS its explicit ROUND because DuckDB's bare cast tie mode is
    # not pinned.
    a = F.abs(c)
    # The units branch ENFORCES the documented |x| < 2^53 domain: it
    # used to admit anything finite, and a single 1e154 row turned the
    # decimal(38,0) cast into an ANSI NUMERIC_VALUE_OUT_OF_RANGE
    # job-killer in BOTH engines (hostile-value probe, r12). Beyond
    # 2^53 the conversion isn't exact anyway — excluded like NULL.
    return (
        F.when(a < F.lit(cap), c.cast(f"decimal(38,{scale})"))
        .when(
            a < F.lit(EXACT_INT_CAP),
            c.cast("decimal(38,0)").cast(f"decimal(38,{scale})"),
        )
    )


def dround(col: Column | str, scale: int = 6) -> Column:
    """ROUND a double at ``scale``, whole units above the 2^53 cap.

    Both regimes keep |x|·10^effective_scale inside 2^53, where Spark's
    BigDecimal HALF_UP and DuckDB's double rounding agree bit-for-bit
    (verified by the r11 extreme-probe micro-test; above the cap the
    engines differ in the low digits at scale > 0 but agree at whole
    units, both rounding half away from zero).
    """
    c = F.col(col) if isinstance(col, str) else col
    cap = 10.0 ** (15 - scale)
    return F.when(F.abs(c) < F.lit(cap), F.round(c, scale)).otherwise(
        F.round(c, 0)
    )


# Valid event-time domain for DATA-DERIVED dense grids (gap-fill,
# interpolation): those operators materialize every bucket between the
# observed MIN(ts) and MAX(ts) per key, so one corrupt timestamp
# (epoch-0, 1969, year-9999) explodes the grid from O(active hours) to
# O(calendar hours since epoch) per key — measured as a single-core
# multi-hour hang at sf0.001 (r11 time probe), a guaranteed job-killer
# at 100 TB. Production gap-fill APIs (e.g. TimescaleDB's
# time_bucket_gapfill) require explicit bounds for exactly this reason;
# this engine defaults them to a century window, and out-of-domain rows
# are excluded from grid-building symmetrically, like non-finite
# doubles. Only grid-building queries consume this — ordinary
# aggregates handle any legal timestamp.
TS_LO, TS_HI = "2000-01-01", "2100-01-01"


def o_ts_domain(col: str = "ts") -> str:
    """DuckDB predicate for the valid event-time domain (see above)."""
    return f"({col} >= TIMESTAMP '{TS_LO}' AND {col} < TIMESTAMP '{TS_HI}')"


O_TS_DOMAIN = o_ts_domain()


def ts_in_domain(col: Column | str = "ts") -> Column:
    """Spark mirror of O_TS_DOMAIN."""
    c = F.col(col) if isinstance(col, str) else col
    return (c >= F.lit(TS_LO).cast("timestamp")) & (
        c < F.lit(TS_HI).cast("timestamp")
    )


def o_vec_usable(col: str = "embedding") -> str:
    """DuckDB mirror of vec_usable (element NULLs count as invalid)."""
    bad = (
        f"len(list_filter({col}, x -> NOT coalesce(isfinite(x) "
        f"AND abs(x) < {VEC_CAP:.0f}, FALSE))) = 0"
    )
    return f"({col} IS NOT NULL AND {bad})"


def ts_micros(col: Column | str) -> Column:
    """Timestamp → epoch microseconds (bigint); DuckDB: epoch_us(ts).

    Parquet timestamps without timezone load as TIMESTAMP_NTZ, which
    unix_micros rejects; with the session pinned to UTC the cast to
    TIMESTAMP preserves the wall-clock instant exactly.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


# DuckDB-side fragments mirroring the helpers above.
def o_finite(expr: str) -> str:
    """``expr`` where finite, NULL otherwise — the o_ mirror of _finite."""
    return f"(CASE WHEN ISFINITE({expr}) THEN ({expr}) END)"


def o_dec_out(s_expr: str, scale: int = 6) -> str:
    """DuckDB mirror of _dec_out (decimal aggregate → double)."""
    cap = 10.0 ** (15 - scale)
    return (
        f"(CASE WHEN ABS({s_expr}) < {cap:.0f} "
        f"THEN CAST(ROUND({s_expr}, {scale}) AS DOUBLE) "
        f"ELSE CAST(CAST(ROUND({s_expr}, 0) AS DECIMAL(38,0)) AS DOUBLE) "
        f"END)"
    )


def o_dsum(expr: str, scale: int = 6) -> str:
    return o_dec_out(f"SUM({o_dterm(expr, scale)})", scale)


def o_dround(expr: str, scale: int = 6) -> str:
    """DuckDB mirror of dround (double ROUND, magnitude-capped)."""
    cap = 10.0 ** (15 - scale)
    return (
        f"(CASE WHEN ABS({expr}) < {cap:.0f} THEN ROUND(({expr}), {scale}) "
        f"ELSE ROUND(({expr}), 0) END)"
    )


def o_dterm(expr: str, scale: int = 9) -> str:
    """DuckDB mirror of dterm (see its docstring for the 2^53 rationale;
    the units branch enforces |x| < 2^53 — NULL beyond, r12)."""
    cap = 10.0 ** (15 - scale)
    fin = o_finite(expr)
    return (
        f"(CASE WHEN ABS({fin}) < {cap:.0f} "
        f"THEN CAST(ROUND({fin}, {scale}) AS DECIMAL(38,{scale})) "
        f"WHEN ABS({fin}) < {int(EXACT_INT_CAP)} "
        f"THEN CAST(CAST(ROUND({fin}, 0) AS DECIMAL(38,0)) "
        f"AS DECIMAL(38,{scale})) END)"
    )


def o_davg(expr: str, scale: int = 6, count: str | None = None) -> str:
    """Exact HALF_UP decimal mean — DuckDB's `/` on a decimal goes
    through DOUBLE (4797.0070425/80 evaluates to …2499999 and ROUND
    drops the tie) while Spark's decimal division is exact with HALF_UP
    at scale 6, so a mean landing exactly on a .5 tie at the output
    scale diverges between the engines (r10 edge-probe find on q159;
    the tie class is data-dependent, not NULL/edge-specific). Computed
    integer-side instead: the DECIMAL(38,6) sum is exactly
    Si·10⁻⁶ with Si a HUGEINT, and HALF_UP(N/n) for N ≥ 0 is
    (2N + n) // (2n) — bit-exact, no double anywhere until the final
    correctly-rounded cast."""
    assert scale >= 6
    n = count or f"COUNT({o_finite(expr)})"
    # Si = the decimal sum's internal scaled integer (sum · 10⁶).
    # Extracted as TRUNC·10⁶ + fractional·10⁶ in HUGEINT — multiplying
    # the DECIMAL(38,6) itself by 10⁶ overflows the decimal width once
    # |sum| ≥ 10³² ⁻ ⁶ (r11 extreme probe: squared-moment sums at 1e30).
    s_ = f"SUM({o_dterm(expr, 6)})"
    si = (
        f"(CAST(TRUNC({s_}) AS HUGEINT) * 1000000 "
        f"+ CAST(({s_} - TRUNC({s_})) * 1000000 AS HUGEINT))"
    )
    num = si if scale == 6 else f"({si} * {10 ** (scale - 6)})"
    cnt = f"CAST({n} AS HUGEINT)"

    def half_up(numer: str, denom: str) -> str:
        return (
            f"(CASE WHEN {numer} >= 0 THEN (2*{numer} + {denom}) // (2*{denom}) "
            f"ELSE -((2*(-{numer}) + {denom}) // (2*{denom})) END)"
        )

    at_scale = f"(CAST({half_up(num, cnt)} AS DOUBLE) / {10 ** scale})"
    # Magnitude branch mirroring _dec_out: above the 2^53 cap the
    # at-scale integer no longer converts to double exactly, so round
    # the mean to whole units integer-side (denominator n·10^6) and
    # convert once.
    units = f"CAST({half_up(si, f'({cnt} * 1000000)')} AS DOUBLE)"
    cap_si = f"({10 ** (15 - scale)} * {cnt} * 1000000)"
    return (
        f"(CASE WHEN ABS({si}) < {cap_si} THEN {at_scale} "
        f"ELSE {units} END)"
    )
