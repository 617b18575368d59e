"""Distributed Lloyd K-Means with bit-portable arithmetic.

The trained-quantizer path for the embedding tier: `similarity.py`'s
IVF/SemDeDup default to Spark ML KMeans (whose k-means|| init samples
per partition — centroids drift across cluster layouts) or to pinned
pseudo-random centroids (stable but untrained). This operator is the
missing middle: Lloyd iterations whose every number is reproducible
on any engine at any partitioning, so the trained centroids ARE a
portable artifact — the same discipline that makes the rest of the
repo oracle-checkable, applied to an iterative ML fit.

Arithmetic contract (why an unrolled DuckDB CTE chain can replay it):
- Values and centroids quantize to the fixed6 grid and then to exact
  64-bit integers (``floor(x·1e6 + 0.5)``), so dots and norms are
  INTEGER sums — exact, associative, order-free: Spark folds them in
  a Catalyst higher-order function (assignment is a pure projection,
  no shuffle), the oracle sums them over an unnest join, and both
  convert to double once at the end. No float fold-order pinning, no
  decimal type-widening. Bound: |value| must stay ≲ 1e5 so a
  64-dim integer dot fits a signed long — embeddings are O(1).
- Assignment is argmax of dot(v,c) − ‖c‖²/2 (≡ argmin ‖v−c‖²); ties
  pick the larger cell id on both sides.
- Centroid updates are exact integer sums → one double division
  each → fixed6, collected to the driver (k×dim doubles — the model)
  and re-embedded as literals for the next round. Empty cells keep
  their centroid.

Scale shape per iteration: one shuffle (the (cell, dim) mean
aggregation, partial-combined map-side); assignment is projection-only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aurora_mito_etl_spark.functions.numeric import fixed6

_SCALE = 1_000_000


def _q(x: float) -> int:
    """Python twin of the integer quantization expression."""
    import math

    return int(math.floor(x * _SCALE + 0.5))


def _qi(col: Column) -> Column:
    """floor(x*1e6 + 0.5) as long — exact on the fixed6 grid."""
    return F.floor(col.cast("double") * F.lit(float(_SCALE)) + F.lit(0.5))


def _int_dot(vi: Column, c_ints: list[int]) -> Column:
    """Exact integer dot of a quantized vector with quantized literal
    centroids — a type-stable long fold.

    INPUT-MAGNITUDE CONTRACT: the 1e-6-grid longs multiply pairwise
    and sum over `dim` elements inside int64, so the fold is exact
    only while dim·(max|x|·1e6)² < 2^63 — at dim 64 that is
    max|x| ≲ 380. Real embedding features sit orders of magnitude
    below this; an out-of-contract vector fails LOUDLY with Spark's
    ANSI long-overflow error rather than wrapping (verified by the
    embeddings fuzz tier at magnitude 1e6)."""
    carr = F.array(*[F.lit(ci).cast("long") for ci in c_ints])
    return F.aggregate(
        F.zip_with(vi, carr, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def _int_dots_arrow(c_ints: list[list[int]], dim: int) -> Column:
    """Arrow twin of k × :func:`_int_dot`: one ``array<long>`` of the
    k exact integer dots per row (r13, guide §4.2 — the k interpreted
    HOF folds per row dominated the assignment projection; Spark does
    not codegen lambdas). INTEGER arithmetic is exact and order-free,
    so one int64 matmul per batch is bit-identical to the fold.

    Semantics parity with the expression path, row by row:
    - quantization is the SAME float64 op (floor(x·1e6 + 0.5)) numpy
      and the JVM both evaluate exactly;
    - a NULL vector, a vector shorter than `dim`, or a NULL element
      inside the first `dim` dims returns a NULL dots array — exactly
      the states where the zip_with NULL-pad poisons every fold — so
      the downstream struct-sort sees the same NULLs;
    - the int64-range contract fails LOUDLY: rows whose conservative
      envelope (dim · max|vi| · max|c|) could wrap int64 raise, the
      same inputs the expression path kills with Spark's ANSI long
      overflow (the embeddings fuzz tier's magnitude-1e6 arm).
      The batch-max envelope is EQUIVALENT to a per-row check (dim
      and max|c| are constants, so the batch trips iff its worst row
      trips — raising never depends on which rows share a batch); it
      remains conservative vs the exact running fold, i.e. this path
      may fail loudly slightly earlier than the ANSI expression path
      near the contract boundary (r13 ADVICE #2, documented trade);
    - NON-FINITE elements are outside the data contract and the two
      paths diverge there BY PINNED DESIGN
      (test_assign_cells_nonfinite_behavior_pinned): here NaN/Inf
      NULL the row's dots (NaN→NULL convention) while the expression
      path quantizes NaN to 0 and raises ANSI overflow on Inf.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    from aurora_mito_etl_spark.operators.similarity import _decode_vectors

    C = np.array(c_ints, dtype=np.int64)  # (k, dim)
    max_c = int(np.abs(C).max()) if C.size else 0

    def batch(arr):
        X, ok, null_el = _decode_vectors(arr, dim, prefix=True)
        vi_f = np.floor(X * float(_SCALE) + 0.5)
        # rows outside the contract (NULL, short, a NULL or non-finite
        # element) get the NULL dots of the zip_with pad
        fine = ok & ~null_el & np.isfinite(vi_f).all(axis=1)
        safe = np.where(fine[:, None], vi_f, 0.0)
        if float(np.abs(safe).max(initial=0.0)) >= float(2**63):
            raise ValueError(
                "assign_cells: quantized component leaves int64 "
                "(|value| too large for the fixed6 grid)"
            )
        vi = safe.astype(np.int64)
        max_v = int(np.abs(vi).max(initial=0))
        if dim * max_v * max_c >= 2**63:
            raise ValueError(
                "assign_cells long overflow: integer dot envelope "
                f"dim·{max_v}·{max_c} leaves int64 (input magnitude "
                "outside the fixed6-grid contract)"
            )
        dots = vi @ C.T  # exact int64 — envelope checked above
        offsets = pa.array(np.arange(len(dots) + 1) * C.shape[0], pa.int32())
        return pa.ListArray.from_arrays(
            offsets, pa.array(dots.ravel()), mask=pa.array(~fine)
        )

    return F.arrow_udf(batch, T.ArrayType(T.LongType()))


def assign_cells(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Nearest-centroid assignment (argmin ‖v−c‖² via the
    dot − ‖c‖²/2 identity) as a pure projection; ties → larger cell
    id. Centroid values must already sit on the fixed6 grid.

    r13 plan shape: the k integer dots come from ONE Arrow batch
    kernel (`_int_dots_arrow`; the k interpreted HOF folds per row
    were the projection's cost); the score combine, the argmax
    struct-sort, and every NULL path stay in Catalyst UNCHANGED, so
    tie and NULL semantics are exactly the expression path's (pinned
    by test_assign_cells_arrow_matches_expression)."""
    dim = len(centroids[0])
    all_c_ints = [[_q(x) for x in c] for c in centroids]
    dots_col = _int_dots_arrow(all_c_ints, dim)(F.col(vec_col))
    tmp = f"__dots_{out_col}"
    scored = []
    for i, c_ints in enumerate(all_c_ints):
        half_norm = float(sum(ci * ci for ci in c_ints)) / (2.0 * _SCALE * _SCALE)
        scored.append(
            F.struct(
                (
                    F.get(F.col(tmp), i).cast("double")
                    / F.lit(float(_SCALE * _SCALE))
                    - F.lit(half_norm)
                ).alias("s"),
                F.lit(i).alias("cell"),
            )
        )
    return (
        vectors.withColumn(tmp, dots_col)
        .withColumn(out_col, F.sort_array(F.array(*scored), asc=False)[0]["cell"])
        .drop(tmp)
    )


def assign_cells_expr(
    vectors: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """The pure-expression form of :func:`assign_cells` (the pre-r13
    registered path) — kept as the parity twin the equality test pins
    the Arrow kernel against."""
    dim = len(centroids[0])
    # slice BEFORE zip_with: zip_with pads the shorter array with
    # NULLs, which would poison the fold
    vi = F.transform(F.slice(F.col(vec_col), 1, dim), _qi)
    scored = []
    for i, c in enumerate(centroids):
        c_ints = [_q(x) for x in c]
        half_norm = float(sum(ci * ci for ci in c_ints)) / (2.0 * _SCALE * _SCALE)
        scored.append(
            F.struct(
                (
                    _int_dot(vi, c_ints).cast("double")
                    / F.lit(float(_SCALE * _SCALE))
                    - F.lit(half_norm)
                ).alias("s"),
                F.lit(i).alias("cell"),
            )
        )
    return vectors.withColumn(
        out_col, F.sort_array(F.array(*scored), asc=False)[0]["cell"]
    )


def kmeans_fit(
    vectors: DataFrame,
    init_centroids: list[list[float]],
    vec_col: str = "embedding",
    iterations: int = 2,
) -> list[list[float]]:
    """`iterations` Lloyd rounds from `init_centroids` (which must be
    on the fixed6 grid — e.g. `fixed6`-rounded pinned centroids);
    returns the trained centroids, bit-identical on any engine."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    dim = len(init_centroids[0])
    cents = [[float(x) for x in c] for c in init_centroids]
    for _ in range(iterations):
        assigned = assign_cells(vectors, cents, vec_col)
        means = (
            assigned.select(
                "cell", F.posexplode(F.slice(F.col(vec_col), 1, dim)).alias("d", "v")
            )
            .select("cell", "d", _qi(F.col("v")).alias("vi"))
            .groupBy("cell", "d")
            .agg(
                fixed6(
                    F.sum("vi").cast("double")
                    / F.lit(float(_SCALE))
                    / F.count("*").cast("double")
                ).alias("m")
            )
            .collect()
        )
        got = {(r["cell"], r["d"]): r["m"] for r in means}
        cents = [
            [got.get((i, d), cents[i][d]) for d in range(dim)]
            for i in range(len(cents))
        ]
    return cents


def kmeans_assignments(
    vectors: DataFrame,
    init_centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
) -> DataFrame:
    """(id, cell) under the centroids after `iterations` Lloyd
    rounds — fit + one final assignment pass."""
    cents = kmeans_fit(vectors, init_centroids, vec_col, iterations)
    return assign_cells(vectors, cents, vec_col).select(id_col, "cell")
