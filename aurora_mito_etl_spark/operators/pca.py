"""Bit-portable PCA for the embedding tier.

Principal-component projection as a training-data-pipeline primitive:
whitening / dimensionality reduction before ANN indexing, and a
drift axis for embedding-distribution monitoring. The reference has
no PCA (its embedding work stops at similarity panels,
reference scripts/finalize_realease.py:275-451); this extends the
beyond-reference embedding tier of SURVEY §2.

Spark-first decomposition — what runs where, and why it scales:

- :func:`covariance_stats`: ONE wide, map-side-combinable aggregate
  over the corpus (row count, per-dim exact decimal sums, per-pair
  exact decimal product sums). The only pass that touches every row,
  and it reduces to a single row of ``d + d(d+1)/2`` numbers — the
  same shape at 500 rows or 100 TB (partial aggregation does the
  work; no explode of vector rows, no shuffle beyond the 1-row agg).
- :func:`covariance_entries`: the upper-triangle covariance as
  (i, j, cov) rows derived from the stats row by the identical IEEE
  double expression both engines run (`lineitem_corr_stats`
  convention: exact decimal sums, one shared double combine).
- :func:`fit_pc1` + :func:`power_iteration`: driver-side dominant-
  eigenvector fit on the d×d matrix — bounded k×dim-scale state,
  exactly like `clustering.kmeans_fit` collecting its centroids.
  Every step stays on the 1e-6 integer grid: matrix-vector products
  are exact integer sums, each normalization is the identical
  (int→double, divide, sqrt, ·1e6+0.5, floor) op sequence DuckDB
  runs, so an unrolled CTE chain replays the fit bit-identically.
- :func:`project_component`: per-row integer-grid dot of the trained
  component against the mean-centered vector — a pure whole-stage-
  codegen projection, no shuffle, broadcast-free (the component is a
  literal).

Arithmetic/overflow contract (micros6 discipline, CLAUDE.md): every
grid int is guarded to |x| < 2^63. Spark raises via ANSI long
overflow or explicit guards, the oracle via DuckDB's checked BIGINT
arithmetic/casts, the driver twin via :func:`_guard` — so an
out-of-contract corpus fails LOUDLY and identically on every path
instead of silently wrapping on one engine. At dim 16 the binding
bound is the matvec fold: |cov|·1e6 · 1e6 · 16 < 2^63 → |cov| ≲ 5.7e5,
i.e. |x| ≲ 750 per component — far above real embedding features and
above the fuzz tier's 300-magnitude adversarial row.

SQL-SUM mirroring: DuckDB's SUM skips NULLs and returns NULL over an
all-NULL group; the driver twin (:func:`_sql_sum`) and the per-row
projection (explicit all-or-NULL term chain on BOTH engines) pin one
consistent NULL story, fuzz-exercised by the embeddings tiers.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aurora_mito_etl_spark.functions.numeric import (
    dec,
    dec_sql,
    dec_to_double,
    fixed6,
    fixed6_spark_sql,
    micros6,
)

_SCALE = 1_000_000
_I64 = 2**63


# ---------------------------------------------------------------- #
# driver-twin integer-grid helpers (mirror DuckDB checked BIGINTs)  #
# ---------------------------------------------------------------- #


def _guard(x: int | None, what: str) -> int | None:
    """Mirror DuckDB's checked BIGINT arithmetic: raise where the
    oracle would raise, instead of letting Python big-ints diverge."""
    if x is not None and abs(x) >= _I64:
        raise ValueError(f"pca {what} overflow (|x| >= 2^63): {x}")
    return x


def _prod(a: int | None, b: int | None) -> int | None:
    """NULL-propagating product with DuckDB's per-element BIGINT
    overflow raise."""
    if a is None or b is None:
        return None
    return _guard(a * b, "product")


def _sql_sum(items) -> int | None:
    """SQL SUM semantics: NULL terms are skipped; an all-NULL (or
    empty) group yields NULL."""
    vals = [x for x in items if x is not None]
    return sum(vals) if vals else None


def _micros_py(x: float | None, what: str) -> int | None:
    """floor(x·1e6 + 0.5) as a guarded exact int — the driver twin of
    `micros6` / `micros6_sql` (same IEEE multiply/add/floor)."""
    if x is None:
        return None
    return _guard(math.floor(x * _SCALE + 0.5), what)


# ---------------------------------------------------------------- #
# distributed pass: one wide aggregate                              #
# ---------------------------------------------------------------- #


def covariance_stats(
    vectors: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """The single corpus pass: count, per-dim exact decimal sums
    (``s{i}``) and per-pair exact decimal product sums (``p{i}_{j}``,
    i ≤ j) of the fixed6-rounded first `dim` components.

    Values are fixed6-rounded BEFORE the decimal cast (the
    `emb_dim_stats` rule: a raw float can land ON a decimal(18,6)
    tie, whose rounding direction is engine-specific; fixed6 output
    never does). get(), not [k]: bracket indexing RAISES
    out-of-bounds under ANSI while DuckDB's e[k] yields NULL — get()
    is NULL-tolerant in both modes, and NULL components are skipped
    by the sums on both engines.
    """
    comp = vectors.selectExpr(
        *[
            f"{fixed6_spark_sql(f'CAST(get({vec_col}, {k}) AS DOUBLE)')} AS x{k}"
            for k in range(dim)
        ]
    )
    aggs = ["count(1) AS n_rows"]
    for i in range(dim):
        aggs.append(
            f"CAST(CAST(SUM({dec_sql(f'x{i}')}) AS STRING) AS DOUBLE) AS s{i}"
        )
    for i in range(dim):
        for j in range(i, dim):
            aggs.append(
                f"CAST(CAST(SUM({dec_sql(f'x{i}')} * {dec_sql(f'x{j}')}) AS STRING)"
                f" AS DOUBLE) AS p{i}_{j}"
            )
    return comp.selectExpr(*aggs)


def _cov_raw_sql(i: int, j: int) -> str:
    """Population covariance of dims (i, j) from the stats row —
    ONE shared IEEE double expression: (n·p − s_i·s_j) / n²."""
    lo, hi = min(i, j), max(i, j)
    return (
        f"(CAST(n_rows AS DOUBLE) * p{lo}_{hi} - s{i} * s{j})"
        f" / (CAST(n_rows AS DOUBLE) * CAST(n_rows AS DOUBLE))"
    )


def covariance_entries(stats: DataFrame, dim: int) -> DataFrame:
    """Upper-triangle covariance entries (i, j, n_rows, cov) exploded
    from the 1-row stats frame — d(d+1)/2 rows, driver-free."""
    structs = ", ".join(
        f"named_struct('i', {i}, 'j', {j},"
        f" 'cov', {fixed6_spark_sql(_cov_raw_sql(i, j))})"
        for i in range(dim)
        for j in range(i, dim)
    )
    return stats.selectExpr("n_rows", f"inline(array({structs}))").select(
        "i", "j", "n_rows", "cov"
    )


# ---------------------------------------------------------------- #
# driver-side fit (bounded d×d state, like kmeans_fit)              #
# ---------------------------------------------------------------- #


def pinned_init(dim: int, seed: int = 11) -> list[int]:
    """Pinned pseudo-random init vector as fixed6 grid ints — same
    splitmix-style generator discipline as `similarity.ivf_centroids`
    so the literals are reproducible on any host."""
    from aurora_mito_etl_spark.operators.similarity import ivf_centroids

    return [
        math.floor(x * _SCALE + 0.5) for x in ivf_centroids(dim, 1, seed=seed)[0]
    ]


def power_iteration(
    c_ints: list[list[int | None]],
    init_ints: list[int],
    iterations: int = 3,
) -> list[int | None]:
    """Dominant-eigenvector power iteration on the 1e-6 integer grid.

    Per round: u = C·v as exact integer sums (SQL-SUM NULL
    semantics), re-gridded by one (int→double, /1e6, +0.5, floor)
    sequence, then normalized by one (sqrt, divide, ·1e6+0.5, floor)
    sequence — each an identical IEEE op chain in Python, Spark and
    DuckDB. The squared norm is an explicit LEFT-TO-RIGHT double
    chain (q0² + q1² + …), not an integer SUM: squaring the regridded
    vector overflows int64 at covariance magnitudes the matvec
    handles fine (fuzz seed 71's magnitude-300 row → Σq² ≈ 2e22),
    and the fixed 16-term order makes the float fold deterministic
    on every engine. A NULL component (all-NULL input dim) poisons
    the whole chain → an all-NULL vector, mirrored by the oracle's
    pivoted-chain CTE. A zero-norm round keeps the previous vector
    (degenerate all-zero covariance, e.g. a single-row corpus)."""
    dim = len(init_ints)
    v: list[int | None] = list(init_ints)
    for _ in range(iterations):
        u_raw = [
            _guard(_sql_sum(_prod(c_ints[i][j], v[j]) for j in range(dim)), "matvec")
            for i in range(dim)
        ]
        uq = [
            None if r is None else _guard(math.floor(r / 1e6 + 0.5), "regrid")
            for r in u_raw
        ]
        nsq: float | None = 0.0
        for q in uq:  # ordered float chain — the oracle's exact op order
            if q is None:
                nsq = None
                break
            nsq = nsq + float(q) * float(q)
        if nsq == 0.0:
            continue  # keep v: degenerate round
        if nsq is None:
            v = [None] * dim
            continue
        s = math.sqrt(nsq)
        v = [
            None if q is None else _guard(math.floor(q / s * _SCALE + 0.5), "vnext")
            for q in uq
        ]
    return v


def _cov_ints(stats_row, dim: int) -> list[list[int | None]]:
    """Covariance grid ints from one stats row: ONE rounding from the
    raw double (micros6 form), exactly like the oracle's BIGINT cast."""
    nd = float(stats_row["n_rows"])

    def cov_int(i: int, j: int) -> int | None:
        p = stats_row[f"p{min(i, j)}_{max(i, j)}"]
        si, sj = stats_row[f"s{i}"], stats_row[f"s{j}"]
        if p is None or si is None or sj is None:
            return None
        return _micros_py((nd * p - si * sj) / (nd * nd), "cov")

    return [[cov_int(i, j) for j in range(dim)] for i in range(dim)]


def _mean_ints(stats_row, dim: int) -> list[int | None]:
    nd = float(stats_row["n_rows"])
    return [
        None
        if stats_row[f"s{i}"] is None
        else _micros_py(stats_row[f"s{i}"] / nd, "mean")
        for i in range(dim)
    ]


def fit_pc1(
    stats_row, dim: int, iterations: int = 3, seed: int = 11
) -> tuple[list[int | None], list[int | None]] | None:
    """Collect-side PC1 fit from one `covariance_stats` row: returns
    (component grid ints, mean grid ints), or None for an empty
    corpus."""
    if stats_row["n_rows"] == 0:
        return None
    comp = power_iteration(
        _cov_ints(stats_row, dim), pinned_init(dim, seed), iterations
    )
    return comp, _mean_ints(stats_row, dim)


def deflate(
    c_ints: list[list[int | None]], v_ints: list[int | None]
) -> list[list[int | None]]:
    """Hotelling deflation on the grid: C' = C − (vᵀCv/(vᵀv)²)·v vᵀ,
    so the second power iteration converges to PC2.

    The Rayleigh pieces (num = vᵀCv, den = vᵀv) are ordered
    left-to-right double chains (the squared-norm rule — their int
    forms overflow at magnitudes the matvec handles); each deflation
    entry takes ONE grid rounding: c'_ij = c_ij −
    floor(num/den/den·V_i·V_j + 0.5) — the identical op sequence in
    the oracle's cmat2 CTE. Any NULL component poisons num → an
    all-NULL deflated matrix, matching SQL NULL propagation."""
    dim = len(v_ints)
    w_raw = [
        _guard(
            _sql_sum(_prod(c_ints[i][j], v_ints[j]) for j in range(dim)), "matvec"
        )
        for i in range(dim)
    ]
    num: float | None = 0.0
    den: float | None = 0.0
    for k in range(dim):
        if v_ints[k] is None or w_raw[k] is None:
            num = None
            den = None
            break
        num = num + float(v_ints[k]) * float(w_raw[k])
        den = den + float(v_ints[k]) * float(v_ints[k])
    out: list[list[int | None]] = []
    for i in range(dim):
        row: list[int | None] = []
        for j in range(dim):
            c = c_ints[i][j]
            if c is None or num is None or v_ints[i] is None or v_ints[j] is None:
                row.append(None)
                continue
            d = num / den / den * float(v_ints[i]) * float(v_ints[j])
            row.append(_guard(c - _guard(math.floor(d + 0.5), "defl"), "c2"))
        out.append(row)
    return out


def fit_pc2(
    stats_row, dim: int, iterations: int = 3, seed1: int = 11, seed2: int = 13
) -> tuple[list[int | None], list[int | None], list[int | None]] | None:
    """PC1 + PC2 fit: power-iterate, deflate, power-iterate again
    from an independent pinned init. Returns (v1, v2, means) grid
    ints, or None for an empty corpus. Orthogonality is
    deflation-exact to the 1e-6 grid (documented operator contract,
    verified to ~1e-3 cosine in the unit test)."""
    if stats_row["n_rows"] == 0:
        return None
    c_ints = _cov_ints(stats_row, dim)
    v1 = power_iteration(c_ints, pinned_init(dim, seed1), iterations)
    v2 = power_iteration(deflate(c_ints, v1), pinned_init(dim, seed2), iterations)
    return v1, v2, _mean_ints(stats_row, dim)


def whitening_params(
    stats_row, dim: int
) -> list[tuple[int | None, float | None]] | None:
    """Per-dim (mean grid int, stddev double) from one
    `covariance_stats` row — the diagonal-whitening calibration.
    Returns None for an empty corpus. A dim whose variance is ≤ 0
    (all-equal values, or an all-NULL column) gets sd None and its
    whitened component scores NULL downstream — mirrored by the
    oracle's CASE WHEN var > 0. The variance is the shared raw IEEE
    expression (no fixed6 round before the sqrt): both engines
    compute the identical double, and a cancellation-negative tiny
    variance lands in the same ≤ 0 branch everywhere instead of
    raising on one engine's sqrt(negative)."""
    n = stats_row["n_rows"]
    if n == 0:
        return None
    nd = float(n)
    out: list[tuple[int | None, float | None]] = []
    for i in range(dim):
        s, p = stats_row[f"s{i}"], stats_row[f"p{i}_{i}"]
        if s is None or p is None:
            out.append((None, None))
            continue
        m_int = _micros_py(s / nd, "mean")
        var = (nd * p - s * s) / (nd * nd)
        sd = math.sqrt(var) if var > 0 else None
        out.append((m_int, sd))
    return out


def whitened_norm(
    vectors: DataFrame,
    dim: int,
    params: list[tuple[int | None, float | None]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "wnorm",
) -> DataFrame:
    """Per-row diagonally-whitened L2 norm — the Mahalanobis-style
    outlier score every embedding-quality funnel wants (a vector far
    from the corpus distribution scores high even when its raw norm
    is ordinary). z_i = (x_i − m_i)/sd_i on the shared op sequence;
    the squared norm is the ordered left-to-right double chain (the
    PC1-norm rule); any NULL component/degenerate dim poisons the
    row to NULL on both engines. Pure codegen projection — the
    calibration constants are literals."""
    terms: list[Column] = []
    for k in range(dim):
        m_int, sd = params[k]
        if m_int is None or sd is None:
            terms.append(F.lit(None).cast("double"))
            continue
        z = (
            (micros6(F.get(F.col(vec_col), k).cast("double")) - F.lit(int(m_int)))
            .cast("double")
            / F.lit(1000000.0)
            / F.lit(float(sd))
        )
        terms.append(z * z)
    chain = terms[0]
    for t in terms[1:]:
        chain = chain + t
    return vectors.select(
        F.col(id_col), fixed6(F.sqrt(chain)).alias(out_col)
    )


# ---------------------------------------------------------------- #
# distributed projection: pure codegen, no shuffle                  #
# ---------------------------------------------------------------- #


def project_component(
    vectors: DataFrame,
    dim: int,
    comp_ints: list[int | None],
    mean_ints: list[int | None],
    vec_col: str = "embedding",
    out_col: str = "pc1",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-row projection score onto the trained component:
    fixed6( Σ_i v_i·(x_i − m_i) ) via exact grid-int terms. A row
    with ANY NULL term (NULL element, short vector, undefined mean)
    scores NULL — the explicit all-or-NULL chain both engines run.
    ANSI long arithmetic raises on out-of-contract magnitudes, like
    the oracle's checked BIGINTs."""
    terms: list[Column] = []
    for k in range(dim):
        vi, mi = comp_ints[k], mean_ints[k]
        if vi is None or mi is None:
            terms.append(F.lit(None).cast("long"))
            continue
        xq = micros6(F.get(F.col(vec_col), k).cast("double"))
        terms.append(F.lit(int(vi)) * (xq - F.lit(int(mi))))
    raw = terms[0]
    for t in terms[1:]:
        raw = raw + t
    score = (
        F.floor(raw.cast("double") / F.lit(float(_SCALE)) + F.lit(0.5)).cast("double")
        / F.lit(float(_SCALE))
    )
    return vectors.select(F.col(id_col), score.alias(out_col))


def project_components(
    vectors: DataFrame,
    dim: int,
    named_comps: dict[str, list[int | None]],
    mean_ints: list[int | None],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Several component projections in ONE pass (Catalyst shares the
    per-dim quantization subexpressions across the score chains) —
    the 2-D+ reduction shape. Same semantics per score as
    :func:`project_component`."""
    xqs = [
        micros6(F.get(F.col(vec_col), k).cast("double")) for k in range(dim)
    ]
    cols: list[Column] = [F.col(id_col)]
    for name, comp in named_comps.items():
        terms: list[Column] = []
        for k in range(dim):
            vi, mi = comp[k], mean_ints[k]
            if vi is None or mi is None:
                terms.append(F.lit(None).cast("long"))
                continue
            terms.append(F.lit(int(vi)) * (xqs[k] - F.lit(int(mi))))
        raw = terms[0]
        for t in terms[1:]:
            raw = raw + t
        cols.append(
            (
                F.floor(
                    raw.cast("double") / F.lit(float(_SCALE)) + F.lit(0.5)
                ).cast("double")
                / F.lit(float(_SCALE))
            ).alias(name)
        )
    return vectors.select(*cols)
