"""Deterministic numeric aggregation helpers.

Double-precision SUM is order-dependent; on a 1000-executor cluster the
reduction order is nondeterministic, so two runs (or Spark vs the DuckDB
oracle) can differ in the last ulps. For every money/measure aggregate we
therefore sum EXACTLY in decimal (inputs in this corpus have <= 2 decimal
digits; products of two 2-dp values have <= 4) and cast the final result to
double. Exact sum -> deterministic double, independent of partitioning,
AQE re-plans, and engine.

This costs a little over native double sum but keeps whole-stage codegen
(decimal arithmetic is JVM-side, no UDFs) and buys run-to-run reproducibility
at any scale. The same expressions are mirrored in the oracle SQL strings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import sql_helper

#: decimal(18, s) holds +/-9.99e(17-s) — cents-exact up to ~1e13 rows of
#: 1e4-magnitude values, enough for 100 TB fact tables; Spark widens the
#: accumulator to decimal(28+, s) during SUM so overflow is not a concern.
_PREC = 18


@sql_helper
def dec(expr: str, scale: int = 2) -> str:
    """Decimal-exact cast with a NON-FINITE ABORT guard.

    Spark casts NaN/±Inf to decimal as NULL even under ANSI (checked on
    4.1: only genuine overflow aborts), so one NaN-poisoned measure row
    would SILENTLY drop value mass from every decimal-exact sum — the
    exact failure the decimal-overflow posture (SURVEY: abort, don't
    NULL value mass) forbids. DuckDB's CAST aborts on non-finite input,
    so this guard also keeps the two engines' contracts identical.
    NULL passes through (absent ≠ poisoned); the branch is two codegen
    comparisons per value — measured noise-level on the hot aggregates.

    ``dec.sql`` is the same guard as text for plans built from ``F.expr``
    strings (r12 sweep find: a bare ``cast(x as decimal)`` there NULLed a
    NaN price on Spark while DuckDB aborted). The DuckDB oracle side needs
    no twin: its bare CAST aborts on non-finite input natively.
    """
    e = f"({expr})"
    return (
        f"CASE WHEN {e} IS NULL OR NOT (isnan(cast({e} as double)) "
        f"OR abs(cast({e} as double)) = cast('Infinity' as double)) "
        f"THEN cast({e} as decimal({_PREC},{scale})) "
        f"ELSE raise_error('non-finite value in decimal-exact measure') "
        f"END"
    )


@sql_helper
def dsum(expr: str, scale: int = 2) -> str:
    """Exact decimal sum, surfaced as double."""
    return f"cast(sum({dec.sql(expr, scale)}) as double)"


@sql_helper
def davg(expr: str, scale: int = 2) -> str:
    """Deterministic average: exact decimal sum / exact count, in double.

    IEEE-754 double division of identical operands is deterministic across
    engines, unlike AVG() whose internal accumulation order varies.

    nullif guard: a group whose measure is entirely NULL has COUNT(c)=0 —
    ANSI Spark would throw DIVIDE_BY_ZERO there while DuckDB's x/0 is
    NULL; dividing by NULL instead yields the oracle's NULL average.
    """
    return f"{dsum.sql(expr, scale)} / nullif(count({expr}), 0)"


def sql_dsum(expr: str, scale: int = 2) -> str:
    """DuckDB-side mirror of dsum()."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL({_PREC},{scale}))) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 2) -> str:
    return (
        f"CAST(SUM(CAST({expr} AS DECIMAL({_PREC},{scale}))) AS DOUBLE)"
        f" / COUNT({expr})"
    )


# Shared-SQL boundary note (r07): queries whose Spark arm executes the
# SAME SQL text as the oracle (sql_* battery) cast via the engine's bare
# CAST — there Spark's NaN→NULL lenience cannot be intercepted without
# forking the shared text (Spark spells abort `raise_error()`, DuckDB
# `error()`). The python-built plans all route through dec() and abort;
# for the shared-text battery the finite-input contract is enforced by
# the oracle arm (DuckDB aborts), and the boundary is documented in
# SURVEY §robustness.


def finite(col: Column | str) -> Column:
    """Non-finite abort guard for DOUBLE-math consumers (r09 family #12
    sweep): order statistics (percentile, min/max) have NO cross-engine
    NaN contract — Spark ranks NaN greatest while DuckDB's quantile_cont
    skips it, silently shifting every quantile. The posture is the dec()
    one: a NaN/±Inf measure value ABORTS, it never silently reshapes the
    distribution. NULL passes through (absent ≠ poisoned). Mirror:
    :func:`sql_finite`."""
    c = F.col(col) if isinstance(col, str) else col
    bad = F.isnan(c) | (F.abs(c) == F.lit(float("inf")))
    return F.when(c.isNull() | ~bad, c).otherwise(
        F.raise_error(F.lit("non-finite value in measure"))
    )


def finite_expr(expr: str) -> str:
    """Spark-dialect EXPRESSION-STRING twin of finite() (r12 sweep find:
    percentile_rollup ran the SAME text on both engines, and with a NaN
    measure Spark's percentile_disc ranked it greatest while DuckDB
    skipped it — silently different quantiles, no abort anywhere). Use
    this to build the Spark arm of a previously-shared text; the oracle
    arm takes :func:`sql_finite`."""
    return (
        f"CASE WHEN {expr} IS NULL THEN {expr} "
        f"WHEN isnan(cast({expr} as double)) "
        f"OR abs(cast({expr} as double)) = cast('Infinity' as double) "
        f"THEN raise_error('non-finite value in measure') "
        f"ELSE {expr} END"
    )


def sql_finite(expr: str) -> str:
    """DuckDB mirror of finite(): error() on NaN/±Inf, NULL passes."""
    return (
        f"CASE WHEN {expr} IS NULL THEN {expr} "
        f"WHEN NOT isfinite({expr}) "
        f"THEN error('non-finite value in measure') "
        f"ELSE {expr} END"
    )


#: the decimal-exact measure domain (|v| < 10^(18-2)): values at or above
#: it can't be cents-exact in decimal(18,2), and derived integer buckets
#: (floor(v/width) AS BIGINT) leave int64. Shared by measure_domain() and
#: its SQL mirror so both engines draw the boundary at the same value.
_MEASURE_BOUND = 1e16


def measure_domain(col: Column | str) -> Column:
    """Measure-domain abort guard for integer-bucket derivations (r09
    family #12 sweep): Spark's floor(double) RETURNS BIGINT with silent
    saturation — floor(NaN)→0, floor(±1e307/w)→±Long.MAX — even under
    ANSI, so a poisoned value lands in a REAL bucket (0!) while DuckDB's
    CAST aborts. This guard makes the engine abort first: non-finite OR
    |v| ≥ 1e16 (the dec() domain — any in-domain value's bucket fits
    int64 for width ≥ 1). NULL passes. Mirror: :func:`sql_measure_domain`."""
    c = F.col(col) if isinstance(col, str) else col
    bad = (
        F.isnan(c)
        | (F.abs(c) == F.lit(float("inf")))
        | (F.abs(c) >= F.lit(_MEASURE_BOUND))
    )
    return F.when(c.isNull() | ~bad, c).otherwise(
        F.raise_error(
            F.lit("value outside the decimal-exact measure domain")
        )
    )


def sql_measure_domain(expr: str) -> str:
    """DuckDB mirror of measure_domain()."""
    return (
        f"CASE WHEN {expr} IS NULL THEN {expr} "
        f"WHEN NOT isfinite({expr}) OR ABS({expr}) >= 1e16 "
        f"THEN error('value outside the decimal-exact measure domain') "
        f"ELSE {expr} END"
    )
