"""Bit-stable floating-point aggregation helpers.

Distributed double summation is order-dependent (partial aggregation order
differs run-to-run and engine-to-engine), so a raw ``sum(double)`` can differ
from the DuckDB oracle in the low bits — enough to break value-hash
comparison. The fix used throughout the query registry:

- **Sums** go through a DECIMAL cast: decimal addition is exact and
  associative, so the result is identical regardless of partition order, in
  Spark and DuckDB alike. Cast back to double at the end (one deterministic
  IEEE rounding).
- **Derived statistics** (mean, variance, stddev, correlation) are computed
  from decimal sufficient statistics (n, Σx, Σx², Σxy) with the final
  arithmetic in double — every step is a deterministic IEEE operation, so the
  result is bit-identical across engines.
- ``dround`` is a belt-and-braces rounding for values whose inputs are
  already exact (e.g. exact percentile interpolation).

The fixture's numerics carry ≤2 decimal digits, so DECIMAL(25,6)/(30,10)
casts are lossless for x and x²/xy. At 100 TB this costs a wider shuffle row
but removes a correctness footgun; for throughput-only paths use plain double
sums (see bench.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# decimal wide enough for Σx over ~1e12 rows of 1e6-magnitude values
_DEC_X = "decimal(25,6)"
_DEC_XX = "decimal(38,10)"


def dsum(c: Column | str, dec: str = _DEC_X) -> Column:
    """Order-independent sum: sum(cast(x as decimal)) cast back to double."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(col.cast(dec)).cast("double")


def _sums(col: Column):
    n = F.count(col).cast("double")
    sx = F.sum(col.cast(_DEC_X)).cast("double")
    sxx = F.sum((col.cast(_DEC_X) * col.cast(_DEC_X)).cast(_DEC_XX)).cast("double")
    return n, sx, sxx


def davg(c: Column | str) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    n, sx, _ = _sums(col)
    return sx / n


# Derived statistics combine exact sums with compound double arithmetic;
# compilers may contract those expressions differently (FMA), so the final
# value is rounded to 6 decimals on both engines to stay hash-identical.
_STAT_SCALE = 6


def dvar(c: Column | str, ddof: int = 1) -> Column:
    """Sample (ddof=1) or population (ddof=0) variance from exact sums."""
    col = F.col(c) if isinstance(c, str) else c
    n, sx, sxx = _sums(col)
    return F.round((sxx - sx * sx / n) / (n - float(ddof)), _STAT_SCALE)


def dstd(c: Column | str, ddof: int = 1) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    n, sx, sxx = _sums(col)
    return F.round(
        F.sqrt((sxx - sx * sx / n) / (n - float(ddof))), _STAT_SCALE
    )


def dcorr(x: Column | str, y: Column | str) -> Column:
    """Pearson r from exact decimal sufficient statistics."""
    cx = F.col(x) if isinstance(x, str) else x
    cy = F.col(y) if isinstance(y, str) else y
    n = F.count(cx).cast("double")
    sx = F.sum(cx.cast(_DEC_X)).cast("double")
    sy = F.sum(cy.cast(_DEC_X)).cast("double")
    sxx = F.sum((cx.cast(_DEC_X) * cx.cast(_DEC_X)).cast(_DEC_XX)).cast("double")
    syy = F.sum((cy.cast(_DEC_X) * cy.cast(_DEC_X)).cast(_DEC_XX)).cast("double")
    sxy = F.sum((cx.cast(_DEC_X) * cy.cast(_DEC_X)).cast(_DEC_XX)).cast("double")
    return F.round(
        (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
        _STAT_SCALE,
    )


def dround(c: Column, scale: int = 6) -> Column:
    return F.round(c, scale)


# --- matching DuckDB SQL fragments -----------------------------------------
# The oracle side of the same conventions; f-string these into oracle SQL.


def sql_dsum(expr: str, dec: str = _DEC_X) -> str:
    return f"CAST(sum(CAST({expr} AS {dec})) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"({sql_dsum(expr)} / CAST(count({expr}) AS DOUBLE))"


def _sql_sums(expr: str):
    n = f"CAST(count({expr}) AS DOUBLE)"
    sx = sql_dsum(expr)
    sxx = f"CAST(sum(CAST(CAST({expr} AS {_DEC_X}) * CAST({expr} AS {_DEC_X}) AS {_DEC_XX})) AS DOUBLE)"
    return n, sx, sxx


def sql_dvar(expr: str, ddof: int = 1) -> str:
    n, sx, sxx = _sql_sums(expr)
    return f"round((({sxx} - {sx} * {sx} / {n}) / ({n} - {float(ddof)})), {_STAT_SCALE})"


def sql_dstd(expr: str, ddof: int = 1) -> str:
    n, sx, sxx = _sql_sums(expr)
    return f"round(sqrt((({sxx} - {sx} * {sx} / {n}) / ({n} - {float(ddof)}))), {_STAT_SCALE})"


def sql_dcorr(x: str, y: str) -> str:
    n = f"CAST(count({x}) AS DOUBLE)"
    sx = sql_dsum(x)
    sy = sql_dsum(y)
    sxx = f"CAST(sum(CAST(CAST({x} AS {_DEC_X}) * CAST({x} AS {_DEC_X}) AS {_DEC_XX})) AS DOUBLE)"
    syy = f"CAST(sum(CAST(CAST({y} AS {_DEC_X}) * CAST({y} AS {_DEC_X}) AS {_DEC_XX})) AS DOUBLE)"
    sxy = f"CAST(sum(CAST(CAST({x} AS {_DEC_X}) * CAST({y} AS {_DEC_X}) AS {_DEC_XX})) AS DOUBLE)"
    return (
        f"round((({n} * {sxy} - {sx} * {sy}) / "
        f"sqrt(({n} * {sxx} - {sx} * {sx}) * ({n} * {syy} - {sy} * {sy}))), {_STAT_SCALE})"
    )


# --- fast exact sums: scaled-integer hi/lo split -----------------------------
# The decimal path above is exact but slow in Spark (BigDecimal adds; no
# codegen fast path even at precision 18 — measured 3-4x slower than bigint).
# For hot aggregates use the integer split: values with <= `scale` decimal
# digits become exact bigints via round(x * 10^scale); the per-row product /
# value is summed as TWO bigint sums (quotient and remainder by 1e9) so the
# partial sums never overflow (row value < 9.2e18, quotient sum bounded by
# rows * value/1e9, remainder sum by rows * 1e9 — fine to ~1e9 rows per
# aggregation; beyond that, widen the final combine, not the row path).
# Reconstruction hi*1e9 + lo is exact integer arithmetic in DECIMAL(38,0) —
# bit-identical in Spark and DuckDB, then ONE double conversion + ONE
# division. Non-negative inputs only (Spark `div` truncates toward zero,
# DuckDB `//` floors — they agree only for non-negatives).

_ISPLIT = 1_000_000_000


def iscaled(c: Column | str, scale: int) -> Column:
    """round(x * 10^scale) as bigint — exact when x has <= scale decimals.

    Implemented as ``floor(x*10^s + 0.5)`` rather than ``round(x*10^s, 0)``:
    Spark's double ``round`` boxes every row through java.math.BigDecimal
    (measured ~2x the whole map-stage cost on the q1 hot path), while
    floor(+0.5) stays a primitive double op inside whole-stage codegen.
    The two agree for every double except exact NEGATIVE half-integers
    (-12.5: HALF_UP -> -13, floor(+0.5) -> -12) — unreachable under this
    helper's contract (x carries <= scale decimals, so x*10^s sits within
    ~1 ulp of an integer, never near .5); the full oracle-parity suite
    pins the equivalence against DuckDB's round() at every call site."""
    col = F.col(c) if isinstance(c, str) else c
    return F.floor(col * (10**scale) + F.lit(0.5)).cast("bigint")


def fround_int(c: Column) -> Column:
    """Nearest-integer round of a double, half away from zero, as BIGINT —
    primitive ops only. Drop-in for ``F.round(x, 0).cast("bigint")``:
    Spark's double round boxes a java.math.BigDecimal per row (ROUND@ROW in
    tools/plan_audit.py), while this stays inside whole-stage codegen.

    Form: ``sign · (floor(|y|) + [|y| − floor(|y|) ≥ 0.5])``. The
    fractional part is EXACT in IEEE (for |y| ≥ 1 the subtraction is exact
    by Sterbenz's lemma; below 1 it is trivial), so the half comparison
    sees the true value — this is bit-identical to BigDecimal HALF_UP and
    to C++ std::round (DuckDB's double round) for every |y| < 2^53,
    including the adversarial near-half doubles where the naive
    ``floor(y+0.5)`` rounds up one early (verified over 200k random +
    boundary cases; codegen CSE dedups the repeated floor/abs)."""
    a = F.abs(c)
    f = F.floor(a)  # bigint
    mag = f + F.when(a - f.cast("double") >= 0.5, F.lit(1)).otherwise(F.lit(0))
    return mag * F.when(c < 0, F.lit(-1)).otherwise(F.lit(1))


def fround(c: Column, scale: int) -> Column:
    """Primitive half-away-from-zero round of a double to ``scale``
    decimals — drop-in for per-row ``F.round(x, scale)`` (see
    ``fround_int`` for the BigDecimal rationale and the exactness
    argument). Matches DuckDB's round() for doubles (std::round of x·10^s,
    half away from zero, divided back; one correctly-rounded IEEE
    division). Precondition: |x·10^scale| < 2^53."""
    s = float(10**scale)
    return (fround_int(c * s).cast("double") / F.lit(s)).cast("double")


def spark_fround(expr: str, scale: int) -> str:
    """Spark-SQL string twin of ``fround`` for the hot string-built paths."""
    s = float(10**scale)
    # {s}D: Spark parses a bare decimal literal as DECIMAL, which would
    # type the whole expression DECIMAL instead of DOUBLE
    return f"({spark_fround_int(f'({expr}) * {s}D')}) / {s}D"


def spark_fround_int(expr: str) -> str:
    """Spark-SQL string twin of ``fround_int`` — nearest bigint, half away
    from zero via the exact-fraction form (see ``fround_int``); codegen
    CSE dedups the repeated floor/abs subexpressions."""
    a = f"ABS({expr})"
    return (
        f"((FLOOR({a}) + CASE WHEN {a} - FLOOR({a}) >= 0.5D THEN 1 ELSE 0 END)"
        f" * CASE WHEN ({expr}) < 0 THEN -1 ELSE 1 END)"
    )


def isum_aggs(expr: Column, name: str) -> list[Column]:
    """Two aggregate columns (<name>__hi, <name>__lo) for an exact bigint
    sum of a non-negative bigint expression. Per-row values must stay below
    2^53 (true for <=1e7-scaled fixture numerics and their pairwise
    products) so the quotient via double division is exact."""
    return [
        F.sum(F.floor(expr / F.lit(_ISPLIT)).cast("bigint")).alias(f"{name}__hi"),
        F.sum(expr % _ISPLIT).alias(f"{name}__lo"),
    ]


def isum_value(name: str, scale: int) -> Column:
    """Recombine hi/lo into the exact sum, scaled back: one deterministic
    double conversion + one division."""
    total = (
        F.col(f"{name}__hi").cast("decimal(38,0)") * _ISPLIT
        + F.col(f"{name}__lo").cast("decimal(38,0)")
    )
    return total.cast("double") / float(10**scale)


# --- Spark-SQL string twins of the Column builders ---------------------------
# Building deep Column trees through py4j costs ~4-5ms per operator node on
# this box (measured); a query like corr_matrix with 60+ split-sum aggregates
# spends ~0.6s of every cold call just constructing expressions. These
# builders emit the SAME expressions as Spark SQL strings — one F.expr()
# py4j call each, parsed JVM-side (~0.5ms) — for the hot headline paths.
# Semantics are identical operator-for-operator (verified bit-exact by the
# oracle parity suite); only the construction route differs.


def spark_iscaled(expr: str, scale: int) -> str:
    """Spark-SQL twin of ``iscaled``: round(x * 10^scale) as bigint.

    Same floor(+0.5) form as ``iscaled`` — Spark's double round() allocates
    a BigDecimal per row; floor stays primitive in codegen (q1 map stage
    measured 0.60s -> 0.31s at sf0.1). Equivalent to HALF_UP under the
    <= scale-decimals contract (see ``iscaled``); the DuckDB twin
    ``sql_iscaled`` keeps round() — its vectorized version is cheap — and
    the parity suite pins cross-engine equality."""
    return f"CAST(FLOOR(({expr}) * {10**scale} + 0.5D) AS BIGINT)"


def spark_isum_items(expr: str, name: str) -> list[str]:
    """Spark-SQL twin of ``isum_aggs`` — two select-list strings."""
    return [
        f"sum(CAST(FLOOR(({expr}) / {_ISPLIT}) AS BIGINT)) AS {name}__hi",
        f"sum(({expr}) % {_ISPLIT}) AS {name}__lo",
    ]


def spark_isum_value(name: str, scale: int) -> str:
    """Spark-SQL twin of ``isum_value`` (also valid DuckDB — same text as
    sql_isum_value)."""
    return (
        f"(CAST(CAST({name}__hi AS DECIMAL(38,0)) * {_ISPLIT} "
        f"+ CAST({name}__lo AS DECIMAL(38,0)) AS DOUBLE) / {float(10**scale)})"
    )


def sql_isum_items(expr: str, name: str) -> str:
    """DuckDB select-list fragment matching isum_aggs (expr must be a
    non-negative BIGINT expression)."""
    return (
        f"sum(({expr}) // {_ISPLIT}) AS {name}__hi, "
        f"sum(({expr}) % {_ISPLIT}) AS {name}__lo"
    )


def sql_iscaled(expr: str, scale: int) -> str:
    return f"CAST(round(({expr}) * {10**scale}) AS BIGINT)"


def sql_isum_value(name: str, scale: int) -> str:
    return (
        f"(CAST(CAST({name}__hi AS DECIMAL(38,0)) * {_ISPLIT} "
        f"+ CAST({name}__lo AS DECIMAL(38,0)) AS DOUBLE) / {float(10**scale)})"
    )


# --- portable standard-normal upper tail -------------------------------------
# Abramowitz & Stegun 7.1.26-style polynomial (Zelen & Severo 26.2.17),
# |error| < 7.5e-8 — a DEFINED portable approximation, not the engines'
# (absent) erf: both engines evaluate the SAME Horner-form expression on the
# same double, so the result is bit-identical wherever exp() agrees (the
# parity suite already relies on cross-engine ln/exp agreement for logloss
# and perplexity). Used where a p-value must live INSIDE the plan (e.g.
# Benjamini-Hochberg needs p, not just the statistic).
_NORM_P = 0.2316419
_NORM_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_INV_SQRT_2PI = 0.3989422804014327


def norm_sf(c):
    """P(Z > c) for a NON-NEGATIVE Column c (pass abs(t) for two-sided)."""
    from pyspark.sql import functions as F

    b1, b2, b3, b4, b5 = _NORM_B
    t = 1.0 / (F.lit(1.0) + _NORM_P * c)
    poly = t * (b1 + t * (b2 + t * (b3 + t * (b4 + t * F.lit(b5)))))
    return _INV_SQRT_2PI * F.exp(-0.5 * c * c) * poly


def sql_norm_sf(expr: str) -> str:
    """DuckDB twin of :func:`norm_sf` — same Horner form, same literals.
    ``expr`` must be non-negative."""
    b1, b2, b3, b4, b5 = _NORM_B
    t = f"(1.0 / (1.0 + {_NORM_P} * ({expr})))"
    poly = f"({t} * ({b1} + {t} * ({b2} + {t} * ({b3} + {t} * ({b4} + {t} * {b5})))))"
    return f"({_INV_SQRT_2PI} * exp(-0.5 * ({expr}) * ({expr})) * {poly})"
