"""Spark Column expression helpers shared across operators.

Everything here is pure `pyspark.sql.functions` (JVM-side, codegen-able) —
no Python UDFs. Formulas mirror the reference kernels and are written so the
same ANSI SQL runs in DuckDB for the driver's oracle comparison.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def go_round_nonneg(c: Column) -> Column:
    """Half-away-from-zero round for non-negative values
    (reference: utils/stats.go:38-44), as the reference's exact
    trunc-compare — NOT ``floor(x + 0.5)``: for x < 1 the addition can
    round up across the boundary where the compare would not (classic
    ``floor(0.49999999999999994 + 0.5) == 1``), and matching the kernel
    bit-for-bit is the whole point of this helper. For x >= 0,
    trunc == floor, so the compare is ``x - floor(x) >= 0.5``."""
    f = F.floor(c)
    return F.when(c - f >= F.lit(0.5), f + F.lit(1)).otherwise(f)


def go_round_sql(x: str) -> str:
    """DuckDB/ANSI SQL for ``int(go_round(x))`` of a nonnegative
    expression — the same trunc-compare as :func:`go_round_nonneg`, so a
    DuckDB oracle rounds bit-identically to the Spark operator AND to the
    reference kernel (utils/stats.go:38-44). ``x`` is evaluated several
    times; pass a self-contained expression."""
    return (
        f"CAST(CASE WHEN ({x}) - trunc({x}) >= 0.5 THEN trunc({x}) + 1 "
        f"ELSE trunc({x}) END AS INT)"
    )


def go_round_pct_sql(num: str, den: str) -> str:
    """``int(go_round(float(num)/float(den)*100.0))`` in SQL with the
    reference's exact IEEE op order (txprobabilities.go:18:
    ``(v/sum)*100``, never ``(100*v)/sum`` — they differ in the final ulp
    on pairs like 23/40, flipping the rounded percent). Both args must be
    nonnegative."""
    return go_round_sql(f"CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE) * 100.0")


def closest_bounds(states: int, vmin: float, vmax: float) -> list[tuple[float, float]]:
    """The closest-discretizer's ``[lower, upper)`` bucket per state, bit-exact.

    The same ``i*step ± 0.5*step`` doubles the kernel compares against
    (kernel/discretize.py closest_discretize, utils/discretize.go:30-51).
    Neighbouring buckets need not meet exactly: where ``upper_i`` and
    ``lower_{i+1}`` round apart, the value between them matches no bucket
    and falls back to state 0 (with 10 states over [0,128], 32.0 is such a
    value), so no ``floor(v/step + 0.5)`` shortcut reproduces the kernel."""
    step = float(vmax - vmin) / float(states)
    return [
        (float(i) * step - 0.5 * step, float(i) * step + 0.5 * step)
        for i in range(states)
    ]


def _double_sql(x: float) -> str:
    # exponent notation is a DOUBLE literal in Spark SQL and DuckDB alike;
    # a plain decimal would parse as DECIMAL in DuckDB
    r = repr(float(x))
    return r if "e" in r else r + "e0"


def closest_state(value: Column, states: int, vmin: float, vmax: float) -> Column:
    """Closest-state discretization with fixed bounds as a pure SQL formula.

    Mirrors utils/discretize.go:30-51 bit for bit: the first state whose
    :func:`closest_bounds` bucket holds the value; at or above the top
    bucket's upper bound the last state; otherwise (a gap between buckets,
    below the first bucket, or NULL) state 0. The bounds are embedded as
    exact double literals, so Spark and DuckDB evaluate the identical
    comparisons.
    """
    bounds = closest_bounds(states, vmin, vmax)
    out = F.when((value >= F.lit(bounds[0][0])) & (value < F.lit(bounds[0][1])), 0)
    for i, (lo, hi) in enumerate(bounds[1:], start=1):
        out = out.when((value >= F.lit(lo)) & (value < F.lit(hi)), i)
    return out.when(value >= F.lit(bounds[-1][1]), states - 1).otherwise(0)


def closest_state_sql(value_expr: str, states: int, vmin: float, vmax: float) -> str:
    """The same formula as ANSI SQL text (for DuckDB oracles and spark.sql)."""
    bounds = closest_bounds(states, vmin, vmax)
    v = f"({value_expr})"
    arms = " ".join(
        f"WHEN {v} >= {_double_sql(lo)} AND {v} < {_double_sql(hi)} THEN {i}"
        for i, (lo, hi) in enumerate(bounds)
    )
    return (
        f"CAST(CASE {arms} WHEN {v} >= {_double_sql(bounds[-1][1])} "
        f"THEN {states - 1} ELSE 0 END AS INT)"
    )


def simple_boundaries(states: int, vmin: float, vmax: float) -> list[float]:
    """The simple-discretizer's accumulated step boundaries, bit-exact.

    Replicates the reference loop (utils/discretize.go:8-27):
    ``stateStepValue += stateStepSize`` while ``stateStepValue < max`` — the
    float-accumulation order is preserved, so each boundary is the exact
    double the scalar kernel compares against.
    """
    step = float(vmax - vmin) / float(states)
    out: list[float] = []
    sv = float(vmin)
    while sv < vmax:
        out.append(sv)
        sv += step
    return out


def simple_state(value: Column, states: int, vmin: float, vmax: float) -> Column:
    """Smallest-state (simple) discretization as a pure SQL formula.

    Mirrors utils/discretize.go:8-27: returned state = (# accumulated
    boundaries <= value) - 1, i.e. -1 below ``min`` and K-1 at/above the
    last boundary. Boundaries are embedded as exact double literals from
    :func:`simple_boundaries`, so Spark and DuckDB evaluate the identical
    comparisons.
    """
    bounds = simple_boundaries(states, vmin, vmax)
    if not bounds:
        return F.lit(0 if (vmin == 0 and vmax == 0) else -1)
    acc: Column = F.lit(-1)
    for b in bounds:
        acc = acc + (value >= F.lit(b)).cast("int")
    return acc.cast("int")


def simple_state_sql(value_expr: str, states: int, vmin: float, vmax: float) -> str:
    """The same simple-discretize formula as ANSI SQL text."""
    bounds = simple_boundaries(states, vmin, vmax)
    if not bounds:
        return str(0 if (vmin == 0 and vmax == 0) else -1)
    terms = " + ".join(
        f"CAST(({value_expr}) >= {b!r} AS INT)" for b in bounds
    )
    return f"CAST(-1 + {terms} AS INT)"


def series_key_cols() -> list[str]:
    """The series key: one profiled series per (conv_id, tool, role)."""
    return ["conv_id", "tool", "role"]
