"""Cross-engine-deterministic numeric aggregation.

Floating-point SUM over a shuffled dataset is order-dependent; two
engines (or two runs) can disagree in the last ulps. The engine's
convention for money-like aggregates is: cast each value to an exact
DECIMAL first, sum exactly, then cast the final result back to DOUBLE.
The result is bit-identical regardless of partitioning, engine, or
AQE decisions — which is also what makes results reproducible on a
1000-executor cluster vs. local[32].

(The reference sidesteps this by being single-threaded pandas —
reference scripts/finalize_realease.py:591-602; a distributed engine
has to make determinism explicit.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 18 integer digits / 6 fractional covers TPC-H money values and
# unit quantities at 100 TB row counts without overflow after
# Spark's sum-widening (sum of decimal(18,6) -> decimal(28,6)).
_PRECISION = "decimal(18,6)"


def dec(col: Column | str) -> Column:
    """Exact fixed-point view of a double column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(_PRECISION)


def dec_to_double(c: Column) -> Column:
    """Exact-decimal → double via a string round-trip.

    A direct decimal→double cast is engine-dependent (DuckDB divides
    an int128 by 10^scale — two roundings; the JVM parses the decimal
    string — one correctly-rounded step), so adjacent-ulp mismatches
    appear. decimal→string is exact in every engine, and string→double
    (strtod) is correctly rounded in every engine, so this round-trip
    yields the bit-identical double everywhere.
    """
    return c.cast("string").cast("double")


def dec_sum(col: Column | str, alias: str) -> Column:
    """Order-independent SUM(double) -> double."""
    return dec_to_double(F.sum(dec(col))).alias(alias)


def dec_avg(col: Column | str, alias: str) -> Column:
    """Order-independent AVG(double) -> double.

    sum and count are both exact; the single final division is one
    IEEE op on identical operands in any engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (dec_to_double(F.sum(dec(c))) / F.count(c).cast("double")).alias(alias)


def dec_sql(expr: str) -> str:
    """SQL twin of :func:`dec` — valid in DuckDB and Spark SQL. No
    parentheses needed: CAST delimits its operand."""
    return f"CAST({expr} AS DECIMAL(18,6))"


def dec_wide_sql(expr: str) -> str:
    """DuckDB DECIMAL(19,6) operand: one more integer digit than
    :func:`dec_sql`, and stored as a 128-bit HUGEINT.

    The width matters for exact products: DuckDB multiplies two
    DECIMALs of width <= 18 in 64-bit integers and raises when the
    unscaled product leaves int64 range, while 19,6 operands multiply
    in 128 bits (p1 + p2 >= 38 widens to HUGEINT). Spark needs
    p1 + p2 + 1 <= 38 and keeps :func:`dec` operands."""
    return f"CAST({expr} AS DECIMAL(19,6))"


def dec_to_double_sql(expr: str) -> str:
    """DuckDB SQL twin of :func:`dec_to_double` (the same string
    round-trip; Spark SQL spells the string type STRING)."""
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def oracle_dec_sum(expr: str, alias: str) -> str:
    """DuckDB SQL fragment matching :func:`dec_sum`."""
    return f"{dec_to_double_sql(f'SUM({dec_sql(expr)})')} AS {alias}"


def oracle_dec_avg(expr: str, alias: str) -> str:
    """DuckDB SQL fragment matching :func:`dec_avg`."""
    return (
        f"{dec_to_double_sql(f'SUM({dec_sql(expr)})')}"
        f" / CAST(COUNT({expr}) AS DOUBLE) AS {alias}"
    )


def fixed6(x: Column) -> Column:
    """Engine-portable fixed-point rounding to 6 digits:
    floor(x·1e6 + 0.5)/1e6 — NOT round(x, 6), which is HALF_UP on
    doubles in Spark but half-even in DuckDB, so a value landing
    exactly on a tie digit (e.g. odd/128) would hash-mismatch. This
    form is the identical IEEE op sequence in both engines; the SQL
    twin is ``floor((expr) * 1000000 + 0.5) / 1000000``. Load-bearing
    for every oracle-checked per-row fraction — change it here or
    nowhere.

    Magnitude guard: Spark's floor(double) returns LONG and SATURATES
    at 2^63 (so |x| beyond ~9.2e12 silently pinned to 9223372036854.77
    while DuckDB's double floor kept going — found by the embeddings
    fuzz tier on a 1e6-magnitude vector's squared norm). Beyond 2^53
    every double is already integral, so floor(y) == y there; the
    branch keeps the small range on the exact long path and passes the
    big range through unchanged — bit-identical to DuckDB's double
    floor at every magnitude (same identity holds for fixed6_py/np)."""
    y = x * 1_000_000 + F.lit(0.5)
    fl = F.when(
        F.abs(y) < F.lit(float(2**53)), F.floor(y).cast("double")
    ).otherwise(y)
    return fl / 1_000_000


def fixed6_sql(expr: str) -> str:
    """DuckDB SQL twin of :func:`fixed6` — identical IEEE op sequence
    (double multiply, double add, floor, exact power-of-ten divide).
    Use this for every oracle-side 6-digit rounding; never round()."""
    return f"floor(({expr}) * 1000000 + 0.5) / 1000000"


def fixed6_spark_sql(expr: str) -> str:
    """SPARK-SQL-string twin of :func:`fixed6`, for ``F.expr``-built
    columns (r13): expression-heavy operators that assemble dozens of
    fixed6 columns pay ~15 ms of py4j round-trips PER :func:`fixed6`
    Column call; parsing the same tree from one SQL string is ~100×
    cheaper on the driver. The CASE/abs/floor structure and the
    explicit double literals reproduce fixed6's Catalyst tree exactly
    (the repeated ``y`` subtree mirrors the Column build, which also
    inlines ``y`` three times — Catalyst expressions are trees, not
    DAGs), so values are bit-identical. Spark-side ONLY — the DuckDB
    twin stays :func:`fixed6_sql`."""
    y = f"(({expr}) * 1000000.0D + 0.5D)"
    return (
        f"(CASE WHEN abs({y}) < 9007199254740992.0D "
        f"THEN cast(floor({y}) as double) ELSE {y} END) / 1000000.0D"
    )


def micros6(x: Column) -> Column:
    """Value → exact 1e-6-grid BIGINT micros: floor(x·1e6 + 0.5) as
    LONG, guarded so out-of-range input fails LOUDLY and identically
    on both engines.

    Why the guard (ADVICE r8): an unguarded
    ``F.floor(x*1e6+0.5).cast('long')`` silently PINS at ±2^63 in
    Spark (floor(double)→long saturates in non-ANSI mode) while
    DuckDB's ``CAST(floor(...) AS BIGINT)`` raises out-of-range — the
    exact saturate-vs-raise divergence class the fixed6 2^53 branch
    closed for doubles. For |y| < 2^63 both engines produce the same
    exact long (doubles ≥ 2^53 are integral, so the floor/cast chain
    is exact everywhere in range); at |y| ≥ 2^63 this raises instead
    of pinning. SQL twin: :func:`micros6_sql` (DuckDB's BIGINT cast
    raises natively)."""
    y = x.cast("double") * 1_000_000 + F.lit(0.5)
    return F.when(y.isNull() | (F.abs(y) < F.lit(float(2**63))), F.floor(y)).otherwise(
        F.raise_error(
            F.format_string("micros6 overflow (|value| >= ~9.2e12): %s", y)
        ).cast("long")
    )


def micros6_sql(expr: str) -> str:
    """DuckDB SQL twin of :func:`micros6` — the BIGINT cast raises on
    out-of-range input, matching the Spark-side loud failure."""
    return f"CAST(floor(({expr}) * 1000000 + 0.5) AS BIGINT)"


def micros_sum(c: Column, alias: str) -> Column:
    """Overflow-guarded SUM over 1e-6-grid BIGINT micros.

    A bare long SUM wraps silently in non-ANSI Spark while DuckDB
    widens to HUGEINT and raises on the final BIGINT cast (ADVICE r8,
    same divergence class as :func:`micros6`). Accumulate in
    DECIMAL(38,0) — exact to 10^38, far past any reachable corpus —
    and raise if the total leaves int64 range, so overflow fails
    identically on both engines. SQL twin: :func:`micros_sum_sql`."""
    s = F.sum(c.cast("decimal(38,0)"))
    in_range = (s >= F.lit(-(2**63))) & (s <= F.lit(2**63 - 1))
    return (
        F.when(s.isNull() | in_range, s.cast("long"))
        .otherwise(
            F.raise_error(
                F.format_string("micros_sum overflow: %s", s.cast("string"))
            ).cast("long")
        )
        .alias(alias)
    )


def micros_sum_sql(expr: str, alias: str) -> str:
    """DuckDB SQL twin of :func:`micros_sum` — SUM(BIGINT) widens to
    HUGEINT; the BIGINT cast is the loud overflow guard (and keeps
    the Arrow output int64, per the no-HUGEINT-output invariant)."""
    return f"CAST(SUM({micros6_sql(expr)}) AS BIGINT) AS {alias}"


def fixed6_py(x: float) -> float:
    """Python twin of :func:`fixed6` for Arrow/driver-side paths that
    must stay bit-identical to the Catalyst expression (math.floor on
    a float is the same IEEE floor)."""
    import math

    return math.floor(x * 1_000_000 + 0.5) / 1_000_000


def fixed6_np(a):
    """NumPy twin of :func:`fixed6` (np.round is HALF_EVEN — a silent
    twin-divergence on ties; this floor form is the portable one)."""
    import numpy as np

    return np.floor(a * 1_000_000 + 0.5) / 1_000_000


def micros6_py(x: float) -> int:
    """Python twin of :func:`micros6` — the same floor(x·1e6 + 0.5)
    with the same loud out-of-range failure, for Arrow/state-side
    paths that must land on the identical 1e-6 grid."""
    import math

    y = x * 1_000_000 + 0.5
    if abs(y) >= float(2**63):
        raise ValueError(f"micros6 overflow (|value| >= ~9.2e12): {y}")
    return math.floor(y)
