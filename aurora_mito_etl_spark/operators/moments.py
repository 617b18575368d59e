"""Grouped distribution moments (stddev / skewness / excess kurtosis)
from order-free exact integer-grid sums.

Why not ``skewness()``/``kurtosis()`` builtins: like ``corr()`` they
are running-merge float accumulators whose result depends on partition
order — unusable for cross-engine (or even cross-run) bit equality.
The portable form here follows the repo's order-free-arithmetic rule
(CLAUDE.md): quantize values to the 1e-6 grid as checked BIGINTs
(`functions/numeric.micros6`), recenter on the fixed6-rounded group
mean, coarsen the deviations to the 1e-3 grid with a pure-integer
rounding (skewness/kurtosis are scale-free, so the coarser grid only
bounds the power widths — it does not bias the statistic beyond the
documented quantization), and take the four power sums EXACTLY in
DECIMAL. One identical IEEE double combine per group then yields
bit-equal statistics in Spark and DuckDB at any partitioning.

Width proof (all exact, loud on violation):
  d_u  = u − μ_u           BIGINT 1e-6 units; ANSI subtraction raises
  m    = ⌊(d_u + 500)/1000⌋  1e-3 units; GUARDED |m| < 1e9 — past it
                            both engines raise identically
                            (raise_error / DuckDB error(), the micros6
                            loud-failure convention). Without the
                            guard, m² in (1e18, 9.2e18] fits BIGINT
                            but not Spark's DECIMAL(18,0) operand, so
                            Spark would raise where DuckDB computed —
                            the r10 ADVICE divergence. Per-row
                            deviations past ~1e6 value units are out
                            of contract and fail loudly on BOTH sides.
  m²   < 1e18               BIGINT exact; fits DECIMAL(18,0)
  m³ = dec18(m)·dec19(m²)   < 1e27, DECIMAL(38,0) exact (p1+p2+1 ≤ 38)
  m⁴ = dec18(m²)·dec19(m²)  < 1e36, DECIMAL(38,0) exact
  sums                      DECIMAL(38,0); both engines raise past 1e38
(DuckDB oracle keeps 19,0 operands for m³/m⁴ — it needs p1+p2 ≥ 38 to
widen the product to exact HUGEINT; values are identical.)
The floor((d_u+500)/1000.0) double divide is exact-safe: the true
quotient is ≥ 1/1000 away from any integer unless it IS one, and the
division error at |d_u| ≤ 2^53 is ≪ 1e-3, so the floor is the exact
integer floor in both engines.

Scale posture: two shuffles (group agg, then the power-sum agg after
a broadcast join of the tiny group-means table); every sum is
map-side-combinable; nothing collects to the driver. At 100 TB the
plan is the same two exchanges.

Degenerate groups (constant column, single row, all-NULL) follow the
tiny-n fuzz contract: zero central variance ⇒ stddev 0.0, skewness
and kurtosis NULL on BOTH engines (never a divide-by-zero raise).
A NULL group key is a group like standard groupBy semantics: the
means join is null-safe (eqNullSafe / IS NOT DISTINCT FROM) so the
NULL group emits its row on both engines (r10 ADVICE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import (
    dec_to_double_sql,
    fixed6,
    fixed6_sql,
    micros6,
    micros6_sql,
    micros_sum,
)

_D28 = "decimal(28,0)"


def grouped_moments(df: DataFrame, value_col: str, group_col: str) -> DataFrame:
    """Per-group n / mean / stddev / skewness / excess kurtosis of a
    double column, bit-portable across engines.

    Output columns: ``<group_col>, n_rows, mean_val, stddev_val,
    skewness, kurtosis`` — kurtosis is EXCESS (normal ⇒ 0). NULL
    values are excluded (n_rows counts non-NULL); groups without
    positive central variance get NULL skewness/kurtosis.
    """
    u = micros6(F.col(value_col)).alias("u")
    rows = df.select(F.col(group_col), u)
    g = rows.groupBy(group_col).agg(
        F.count("u").alias("n_rows"), micros_sum(F.col("u"), "su")
    )
    mean_raw = (
        F.col("su").cast("double")
        / F.lit(1_000_000.0)
        / F.col("n_rows").cast("double")
    )
    g = g.select(group_col, "n_rows", fixed6(mean_raw).alias("mean_val"))

    d_u = F.col("u") - micros6(F.col("mean_val"))
    m_raw = F.floor((d_u + F.lit(500)).cast("double") / F.lit(1000.0))
    # |m| guard (r10 ADVICE): keeps m2 inside DECIMAL(18,0) so the m4
    # operand cast can never raise on Spark where the oracle computed.
    m = F.when(
        m_raw.isNull() | (F.abs(m_raw) < F.lit(1_000_000_000)), m_raw
    ).otherwise(
        F.raise_error(
            F.format_string(
                "grouped_moments deviation overflow"
                " (|m| >= 1e9 milli-units): %s",
                m_raw.cast("string"),
            )
        ).cast("long")
    )
    j = (
        rows.alias("r")
        .join(
            F.broadcast(g).alias("gm"),
            F.col(f"r.{group_col}").eqNullSafe(F.col(f"gm.{group_col}")),
        )
        .select(
            F.col(f"gm.{group_col}").alias(group_col),
            "n_rows",
            "mean_val",
            m.alias("m"),
        )
    )
    m_ = F.col("m")
    m2 = m_ * m_
    m3 = m_.cast("decimal(18,0)") * m2.cast("decimal(19,0)")
    m4 = m2.cast("decimal(18,0)") * m2.cast("decimal(19,0)")

    def dec_dbl(c):  # exact decimal -> double via the string round-trip
        return c.cast("string").cast("double")

    s = j.groupBy(group_col).agg(
        F.max("n_rows").alias("n_rows"),
        F.max("mean_val").alias("mean_val"),
        dec_dbl(F.sum(m_.cast(_D28))).alias("s1d"),
        dec_dbl(F.sum(m2.cast(_D28))).alias("s2d"),
        dec_dbl(F.sum(m3)).alias("s3d"),
        dec_dbl(F.sum(m4)).alias("s4d"),
    )
    nd = F.col("n_rows").cast("double")
    a1 = F.col("s1d") / nd
    r2 = F.col("s2d") / nd
    r3 = F.col("s3d") / nd
    r4 = F.col("s4d") / nd
    m2c = r2 - a1 * a1
    m3c = r3 - F.lit(3.0) * a1 * r2 + F.lit(2.0) * a1 * a1 * a1
    m4c = (
        r4
        - F.lit(4.0) * a1 * r3
        + F.lit(6.0) * a1 * a1 * r2
        - F.lit(3.0) * a1 * a1 * a1 * a1
    )
    # m is in 1e-3 value units: stddev scales by 1e-3; skew/kurtosis
    # are unit-free. NULL-group chains stay NULL (no greatest(): DuckDB
    # 1.0 greatest() is NULL-poisoning while Spark's skips NULLs).
    stddev = (
        F.when(m2c >= 0, fixed6(F.sqrt(m2c) * F.lit(0.001)))
        .when(m2c < 0, F.lit(0.0))
    )
    skew = F.when(m2c > 0, fixed6(m3c / (F.sqrt(m2c) * m2c)))
    kurt = F.when(m2c > 0, fixed6(m4c / (m2c * m2c) - F.lit(3.0)))
    return s.select(
        group_col,
        "n_rows",
        F.col("mean_val"),
        stddev.alias("stddev_val"),
        skew.alias("skewness"),
        kurt.alias("kurtosis"),
    )


def grouped_moments_oracle(
    table: str, value_col: str, group_col: str
) -> str:
    """DuckDB SQL twin of :func:`grouped_moments` — identical grid
    quantization, identical exact sums, identical final double chain.
    """
    u_sql = micros6_sql(value_col)
    mean_raw = f"CAST(su AS DOUBLE) / 1000000.0 / CAST(n_rows AS DOUBLE)"
    mu_u = micros6_sql("gm.mean_val")
    return f"""
    WITH r AS (
      SELECT {group_col}, {u_sql} AS u FROM {table}
    ),
    g AS (
      SELECT {group_col}, COUNT(u) AS n_rows, CAST(SUM(u) AS BIGINT) AS su
      FROM r GROUP BY {group_col}
    ),
    gm AS (
      SELECT {group_col}, n_rows, {fixed6_sql(mean_raw)} AS mean_val FROM g
    ),
    m0 AS (
      SELECT gm.{group_col} AS {group_col}, gm.n_rows, gm.mean_val,
             CAST(floor(CAST(r.u - {mu_u} + 500 AS DOUBLE) / 1000.0) AS BIGINT) AS mm_raw
      FROM r JOIN gm ON r.{group_col} IS NOT DISTINCT FROM gm.{group_col}
    ),
    m AS (
      SELECT {group_col}, n_rows, mean_val,
             CASE WHEN mm_raw IS NULL OR abs(mm_raw) < 1000000000 THEN mm_raw
                  ELSE CAST(error('grouped_moments deviation overflow (|m| >= 1e9 milli-units): '
                                  || CAST(mm_raw AS VARCHAR)) AS BIGINT) END AS mm
      FROM m0
    ),
    s AS (
      SELECT {group_col},
             MAX(n_rows) AS n_rows, MAX(mean_val) AS mean_val,
             {dec_to_double_sql('SUM(CAST(mm AS DECIMAL(28,0)))')} AS s1d,
             {dec_to_double_sql('SUM(CAST(mm * mm AS DECIMAL(28,0)))')} AS s2d,
             {dec_to_double_sql('SUM(CAST(mm AS DECIMAL(19,0)) * CAST(mm * mm AS DECIMAL(19,0)))')} AS s3d,
             {dec_to_double_sql('SUM(CAST(mm * mm AS DECIMAL(19,0)) * CAST(mm * mm AS DECIMAL(19,0)))')} AS s4d
      FROM m GROUP BY {group_col}
    ),
    c AS (
      SELECT {group_col}, n_rows, mean_val,
             s1d / CAST(n_rows AS DOUBLE) AS a1,
             s2d / CAST(n_rows AS DOUBLE) AS r2,
             s3d / CAST(n_rows AS DOUBLE) AS r3,
             s4d / CAST(n_rows AS DOUBLE) AS r4
      FROM s
    ),
    k AS (
      SELECT {group_col}, n_rows, mean_val,
             r2 - a1 * a1 AS m2c,
             r3 - 3.0 * a1 * r2 + 2.0 * a1 * a1 * a1 AS m3c,
             r4 - 4.0 * a1 * r3 + 6.0 * a1 * a1 * r2 - 3.0 * a1 * a1 * a1 * a1 AS m4c
      FROM c
    )
    SELECT {group_col}, n_rows, mean_val,
           CASE WHEN m2c >= 0 THEN {fixed6_sql("sqrt(m2c) * 0.001")}
                WHEN m2c < 0 THEN 0.0 END AS stddev_val,
           CASE WHEN m2c > 0 THEN {fixed6_sql("m3c / (sqrt(m2c) * m2c)")} END AS skewness,
           CASE WHEN m2c > 0 THEN {fixed6_sql("m4c / (m2c * m2c) - 3.0")} END AS kurtosis
    FROM k
    """
