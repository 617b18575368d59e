"""Johnson–Lindenstrauss random projection of an embedding column.

The data-INDEPENDENT complement to the trained reducers (PCA,
IVF-PQ): a pinned ±1 sign matrix (Achlioptas 2003) projects d dims to
k dims with expected pairwise-distance distortion O(sqrt(log n / k)),
with NO training pass, no statistics, no shuffle — at 100 TB the
projection is a pure per-row codegen expression appended to any scan,
which is exactly why serving stacks reach for JL before PCA when the
corpus is too large (or too fresh) to fit a covariance pass.

Portability: the sign matrix is computed in PYTHON from md5 of a
pinned seed string and embedded as ±literals on both sides — the
cross-engine surface is a left-to-right fixed-length double chain per
output dim (the bounded-length float-fold exception from CLAUDE.md:
a FIXED-length chain written identically on both sides is pinnable
where a SUM's order is not), one exact power-of-two scale (1/sqrt(k)
with k a perfect square), and one fixed6.

Indexing caveat (load-bearing): Spark SQL ``arr[i]`` is 0-BASED while
DuckDB list indexing is 1-based, so the two sides are generated by
SEPARATE builders. Since the r10 HOF-fold rewrite the Spark side no
longer indexes at all: ``F.slice(vec, 1, k)`` + ``F.zip_with`` pads a
short vector with NULL elements, which poison the fold to NULL —
exactly the out-of-bounds-NULL semantics the earlier per-element
``F.get`` build had (and that DuckDB's ``[]`` gives the oracle's
``vec[i+1]`` chain; ``element_at`` would RAISE under ANSI on a short
fuzz vector). NULL vector elements propagate to NULL outputs on both
engines (all-or-NULL, the pca.py projection contract).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import fixed6_sql
from .similarity import _decode_vectors, _ordered_gram, _ordered_rowfold


def jl_signs(in_dim: int = 64, out_dim: int = 16, seed: str = "jl1") -> list[list[int]]:
    """The pinned ±1 projection matrix: sign[r][c] from one md5 bit.
    Pure compile-time constants — no engine ever hashes."""
    return [
        [
            1
            if int(hashlib.md5(f"{seed}#{r}#{c}".encode()).hexdigest()[0], 16) < 8
            else -1
            for c in range(in_dim)
        ]
        for r in range(out_dim)
    ]


def _jl_scale(out_dim: int) -> float:
    root = out_dim ** 0.5
    if root != int(root):
        raise ValueError(f"out_dim must be a perfect square, got {out_dim}")
    return 1.0 / root


def _proj_col(vec_col: str, signs_row: list[int], scale: float) -> Column:
    """Spark twin: ((±x0 ± x1) ± x2)... * scale, left-to-right — as a
    HOF fold, NOT an unrolled 64-term expression tree: 16 unrolled
    chains planned to a 7.7 MiB task binary and fell out of codegen
    (6-10 s for 5k rows, bench r10). ``aggregate`` is a strict
    sequential left-to-right fold in Spark, so the addition order is
    IDENTICAL to the oracle's explicit chain; the fold's 0.0 seed is
    exact (0.0+x == x bit-for-bit except x=-0.0, where the only
    downstream difference is another signed zero — and fixed6
    collapses both zeros to +0.0). ±1 signs enter as an array literal
    with per-element multiply ((-1.0)*x == -x exactly). zip_with pads
    short vectors with NULL, matching the oracle's out-of-bounds
    NULL; NULL elements propagate all-or-NULL on both engines.

    Built as ONE ``F.expr`` SQL string rather than Column-API calls
    (r13): the Column build of 16 such folds cost ~10,000 py4j
    round-trips (~2.5 s of driver-side socket chatter per query
    BUILD — guide §7.3 "driver-side single-threaded work"); the
    parsed SQL yields the IDENTICAL Catalyst tree (slice/zip_with/
    aggregate over double literals; slicing to the sign width first
    so a LONGER vector ignores extra dims like the oracle's fixed
    chain), so values are bit-unchanged."""
    return F.expr(_proj_spark_sql(vec_col, signs_row, scale))


def _proj_spark_sql(vec_col: str, signs_row: list[int], scale: float) -> str:
    """The Spark-SQL string behind :func:`_proj_col` (also inlined by
    :func:`jl_project` so each output column is ONE parse)."""
    arr = ",".join("1.0D" if s > 0 else "-1.0D" for s in signs_row)
    return (
        f"aggregate(zip_with("
        f"slice(cast({vec_col} as array<double>), 1, {len(signs_row)}), "
        f"array({arr}), (x, s) -> x * s), "
        f"0.0D, (a, v) -> a + v) * {scale!r}D"
    )


def _proj_sql(vec: str, signs_row: list[int], scale: float) -> str:
    """DuckDB twin of :func:`_proj_col` (1-based list index)."""
    expr = ("" if signs_row[0] > 0 else "-") + f"CAST({vec}[1] AS DOUBLE)"
    for c in range(1, len(signs_row)):
        t = ("" if signs_row[c] > 0 else "-") + f"CAST({vec}[{c + 1}] AS DOUBLE)"
        expr = f"({expr} + {t})"
    return f"({expr}) * {scale!r}"


def jl_project(
    df: DataFrame,
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 16,
    seed: str = "jl1",
    prefix: str = "y",
) -> DataFrame:
    """Append ``prefix0..prefix{out_dim-1}`` fixed6 projection columns
    — one codegen pass, no shuffle, no training. Each column is ONE
    ``F.expr`` parse (fixed6 included via its Spark-SQL twin): the
    fixed6-Column wrapper alone cost ~15 ms of py4j per column
    (r13)."""
    from ..functions.numeric import fixed6_spark_sql

    scale = _jl_scale(out_dim)
    signs = jl_signs(in_dim, out_dim, seed)
    cols = [
        F.expr(
            fixed6_spark_sql(_proj_spark_sql(vec_col, signs[r], scale))
        ).alias(f"{prefix}{r}")
        for r in range(out_dim)
    ]
    return df.select("*", *cols)


def jl_project_oracle_cols(
    vec: str,
    in_dim: int = 64,
    out_dim: int = 16,
    seed: str = "jl1",
    prefix: str = "y",
) -> list[str]:
    """DuckDB twins of the projection columns."""
    scale = _jl_scale(out_dim)
    signs = jl_signs(in_dim, out_dim, seed)
    return [
        f"{fixed6_sql(_proj_sql(vec, signs[r], scale))} AS {prefix}{r}"
        for r in range(out_dim)
    ]


def jl_project_arrow(
    df: DataFrame,
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 16,
    seed: str = "jl1",
    prefix: str = "y",
) -> DataFrame:
    """Arrow-batched twin of :func:`jl_project` — same appended
    ``prefix0..prefix{out_dim-1}`` fixed6 columns, with the per-row
    16×64 interpreted HOF folds replaced by one numpy
    dimension-at-a-time accumulation per Arrow batch (Spark never
    codegens lambda expressions; guide §4.2 — the pq_encode_arrow /
    sqdist_arrow precedent).

    BIT-PARITY BY CONSTRUCTION, including non-finite inputs: the
    kernel is :func:`similarity._ordered_gram` against the ±1.0 sign
    matrix — ``acc_r += x_c * (±1.0)`` in input order, the exact
    left-to-right IEEE sequence of the fold's ``(0.0 + t0) + t1 …``
    chain — then one ``* scale`` multiply, and the fixed6 grid is
    applied ENGINE-SIDE (Catalyst) on the raw doubles, so NaN/Inf
    elements propagate to NaN/Inf outputs exactly as the expression
    twin's fold does. The vector decoder reports NULL elements apart
    from NaN: a NULL *element* NULLs the row's outputs (the zip_with-
    pad semantics) while a NaN element stays a NaN VALUE. NULL vectors
    and vectors shorter than `in_dim` yield NULL in every output
    column; extra dims are ignored (the slice semantics). Parity
    pinned by test_jl_project_arrow_matches_expression."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    from ..functions.numeric import fixed6_spark_sql

    scale = _jl_scale(out_dim)
    signs = np.array(jl_signs(in_dim, out_dim, seed), dtype=np.float64)
    raw = [f"__jl_raw_{r}" for r in range(out_dim)]
    raw_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(c, T.DoubleType(), True) for c in raw]
    )
    vec_idx = df.columns.index(vec_col)

    def project(batches):
        for batch in batches:
            X, ok, null_el = _decode_vectors(
                batch.column(vec_idx), in_dim, prefix=True
            )
            out = np.ascontiguousarray((_ordered_gram(X, signs) * scale).T)
            invalid = ~ok | null_el
            yield pa.RecordBatch.from_arrays(
                batch.columns + [pa.array(o, mask=invalid) for o in out],
                names=list(batch.schema.names) + raw,
            )

    projected = df.mapInArrow(project, raw_schema)
    return projected.select(
        *df.columns,
        *[
            F.expr(fixed6_spark_sql(c)).alias(f"{prefix}{r}")
            for r, c in enumerate(raw)
        ],
    )


def sqdist_col(a: str, b: str, dim: int) -> Column:
    """Spark: squared L2 distance with the same left-to-right order as
    the oracle's explicit (a[i]-b[i])^2 chain, as a HOF fold (see
    :func:`_proj_col` for the seed/signed-zero argument; squared
    terms are never -0.0-bearing beyond the same collapsing cases).
    The fold runs over EXACTLY ``dim`` terms like the oracle's fixed
    chain: slice drops extra dims, the zero-array zip pads short
    vectors with NULL (so an equally-short pair still NULLs out, as
    the oracle's out-of-bounds [] terms do). One ``F.expr`` SQL
    string for the same py4j-chatter reason as :func:`_proj_col`;
    identical Catalyst tree, bit-unchanged values."""
    pad = ",".join(["0.0D"] * dim)

    def fix(c: str) -> str:
        return (
            f"zip_with(slice(cast({c} as array<double>), 1, {dim}), "
            f"array({pad}), (x, z) -> x)"
        )

    return F.expr(
        f"aggregate(zip_with({fix(a)}, {fix(b)}, "
        f"(x, y) -> (x - y) * (x - y)), 0.0D, (p, v) -> p + v)"
    )


def sqdist_arrow(a: Column, b: Column, dim: int) -> Column:
    """Arrow-batched twin of :func:`sqdist_col` — the pair-verify hot
    path (n_pairs × dim interpreted HOF steps; Spark does not codegen
    lambda expressions — `similarity.dot_arrow` is the precedent and
    the contract template).

    BIT-PARITY BY CONSTRUCTION: :func:`similarity._ordered_rowfold`
    of ``(a_j - b_j)²``, elementwise IEEE doubles,
    no BLAS/pairwise summation — the exact left-to-right sequence of
    the expression fold's ``(0.0 + t0) + t1 …`` chain (0.0 + t0 == t0
    bit-for-bit except the -0.0 seam, which squared terms never
    produce). Same OOB semantics as the zip_with NULL-pad: a vector
    with FEWER than `dim` elements scores NULL, extra dims are
    ignored (slice), NULL inputs and NULL elements score NULL, and a
    NaN result is returned as NULL (dot_arrow's documented
    convention; the expression twin instead propagates NaN as a
    VALUE — a genuine divergence confined to out-of-contract
    non-finite inputs, pinned by
    test_sqdist_nonfinite_divergence_pinned, r13 ADVICE #1)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    def batch(a, b):
        A, oka, _ = _decode_vectors(a, dim, prefix=True)
        B, okb, _ = _decode_vectors(b, dim, prefix=True)
        out = _ordered_rowfold(A, B, lambda x, y: np.square(x - y))
        out[~(oka & okb)] = np.nan
        return pa.array(out, mask=np.isnan(out))

    return F.arrow_udf(batch, T.DoubleType())(a, b)


def sqdist_sql(a: str, b: str, dim: int) -> str:
    """DuckDB twin of :func:`sqdist_col` (1-based)."""

    def term(i: int) -> str:
        d = f"(CAST({a}[{i + 1}] AS DOUBLE) - CAST({b}[{i + 1}] AS DOUBLE))"
        return f"({d} * {d})"

    expr = term(0)
    for i in range(1, dim):
        expr = f"({expr} + {term(i)})"
    return expr


def jl_project_py(vec, in_dim: int = 64, out_dim: int = 16, seed: str = "jl1"):
    """Python twin (same left-to-right fold) for tests."""
    from ..functions.numeric import fixed6_py

    signs = jl_signs(in_dim, out_dim, seed)
    scale = _jl_scale(out_dim)
    out = []
    for r in range(out_dim):
        acc = float(vec[0]) if signs[r][0] > 0 else -float(vec[0])
        for c in range(1, in_dim):
            acc = acc + (float(vec[c]) if signs[r][c] > 0 else -float(vec[c]))
        out.append(fixed6_py(acc * scale))
    return out


def sqdist_named_col(acols: list[str], bcols: list[str]) -> Column:
    """Spark: squared L2 over two equal-length COLUMN lists, same
    left-to-right chain discipline (one ``F.expr`` parse — same tree
    as the Column-API chain, none of its py4j round-trips)."""

    def term(a: str, b: str) -> str:
        return f"(({a} - {b}) * ({a} - {b}))"

    expr = term(acols[0], bcols[0])
    for a, b in zip(acols[1:], bcols[1:]):
        expr = f"({expr} + {term(a, b)})"
    return F.expr(expr)


def sqdist_named_sql(acols: list[str], bcols: list[str]) -> str:
    """DuckDB twin of :func:`sqdist_named_col`."""

    def term(a: str, b: str) -> str:
        return f"(({a} - {b}) * ({a} - {b}))"

    expr = term(acols[0], bcols[0])
    for a, b in zip(acols[1:], bcols[1:]):
        expr = f"({expr} + {term(a, b)})"
    return expr
