"""Streaming per-label centroid drift monitor (applyInPandasWithState).

The batch tier (`operators/similarity._label_centroids` behind
`emb_label_centroid_cosine` / `emb_label_outliers`) answers "what is
each label's mean vector over everything we ingested"; a training-data
pipeline also wants the always-on form — live class-geometry
monitoring of arriving labeled embeddings (is a label's centroid
drifting away from the trained snapshot between retrains?) without
re-scanning history per micro-batch.

State per label is (n, the dim exact 1e-6-grid BIGINT per-dimension
micros sums) — BOUNDED forever (dim+1 numbers per label, independent
of row count) and ORDER-FREE (sums merge by addition), so after any
sequence of micro-batches the running centroid equals the batch
aggregate on the same rows EXACTLY, regardless of arrival order or
batch boundaries — the same strongest-parity class as the PSI and
quantile-sketch monitors, and the same property that makes the batch
operator one map-side-combinable pass.

Each micro-batch, every updated label emits
``(label, n, centroid_norm, cos_ref)`` — cos_ref is the fixed6 cosine
of the running centroid against a caller-supplied REFERENCE centroid
(e.g. the snapshot the current model was trained on); NULL when the
label has no reference or either norm is zero. The python fold
mirrors the engine folds term-for-term (micros6 twin, left-to-right
dot/norm chains, one IEEE divide, fixed6), pinned by the exact
batch-twin parity test in tests/test_streaming_centroid.py.

Row contract (shared with the batch tier's `_label_valid`): NULL
label, NULL/short vector or NULL element rows never participate.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.numeric import fixed6_py, micros6_py
from ..sources.io import local_frame

OUT_SCHEMA = T.StructType(
    [
        T.StructField("label", T.StringType(), True),
        T.StructField("n", T.LongType(), False),
        T.StructField("centroid_norm", T.DoubleType(), False),
        T.StructField("cos_ref", T.DoubleType(), True),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("sums", T.ArrayType(T.LongType())),
    ]
)


def _centroid(n: int, sums: list[int]) -> list[float]:
    """The batch twin's per-coordinate math: one IEEE divide over the
    exact integer sums — (CAST(s AS DOUBLE) / 1e6) / n, identically."""
    return [(float(s) / 1_000_000.0) / float(n) for s in sums]


def _norm(vec: list[float]) -> float:
    """sqrt of the left-to-right fold of squares — the engine HOF
    fold's exact order ((0.0 + t0) + t1 ...)."""
    acc = 0.0
    for x in vec:
        acc = acc + x * x
    return math.sqrt(acc)


def _cos_ref(vec: list[float], ref: list[float]) -> float | None:
    """fixed6 cosine against the reference — left-to-right dot fold,
    one divide; None when either norm is zero (the batch guard) or
    the reference has the wrong length (the batch twin's zip_with
    NULL-pads, the NULL poisons its fold, cos_ref comes out NULL —
    a bare zip() here would silently truncate instead)."""
    if len(ref) != len(vec):
        return None
    nv, nr = _norm(vec), _norm(ref)
    if nv == 0.0 or nr == 0.0:
        return None
    acc = 0.0
    for x, r in zip(vec, ref):
        acc = acc + x * r
    return fixed6_py(acc / (nv * nr))


def centroid_drift_stream(
    df: DataFrame,
    reference: dict[str, list[float]],
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Always-on per-label centroid monitor: per micro-batch, each
    updated label emits (label, n, centroid_norm, cos_ref). State is
    the exact integer sum vector per label — order-free, so the
    running centroid equals the batch aggregate on the same rows
    exactly. `reference` maps label (as string) → dim-length centroid;
    labels without a reference emit cos_ref NULL."""

    def update(key, pdfs, state: GroupState):
        (label,) = key
        if state.exists:
            n, sums = state.get
            sums = list(sums)
        else:
            n, sums = 0, [0] * dim
        for pdf in pdfs:
            for vec in pdf[vec_col]:
                if vec is None or len(vec) != dim:
                    continue
                # NULL elements cross the Arrow/pandas seam as NaN
                # (list<float> has no None in numpy); x != x is the
                # NaN test — these rows are the batch tier's
                # NULL-element exclusion (real NaN inputs are outside
                # the contract: the engine's micros6 raises on them).
                fl = [float(x) for x in vec]
                if any(x != x for x in fl):
                    continue
                for d, x in enumerate(fl):
                    sums[d] += micros6_py(x)
                n += 1
        if n == 0:
            return
        state.update((n, sums))
        cent = _centroid(n, sums)
        ref = reference.get(label) if label is not None else None
        cos = _cos_ref(cent, ref) if ref is not None else None
        yield pd.DataFrame(
            [(label, n, _norm(cent), cos)],
            columns=["label", "n", "centroid_norm", "cos_ref"],
        )

    return (
        df.where(F.col(label_col).isNotNull())
        .select(F.col(label_col).cast("string").alias("label"), F.col(vec_col))
        .groupBy("label")
        .applyInPandasWithState(
            update,
            outputStructType=OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def centroid_drift_batch(
    df: DataFrame,
    reference: dict[str, list[float]],
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Batch twin — the REGISTERED operators' centroid builder
    (`similarity._label_centroids`, label cast to string to match the
    stream's state key) plus the same engine-side norm and
    reference-cosine folds, shaped like the stream's emissions: the
    parity anchor (order-free integer sums make the equality exact)."""
    from ..operators.similarity import _label_centroids, dot
    from ..functions.numeric import fixed6

    base = df.select(
        F.col(label_col).cast("string").alias("label"), F.col(vec_col)
    )
    cents = _label_centroids(base, vec_col, "label", "label", dim)
    ref_rows = [(k, [float(x) for x in v]) for k, v in sorted(reference.items())]
    out = cents.withColumn("centroid_norm", F.sqrt(F.col("norm2")))
    if ref_rows:
        refs = local_frame(
            out.sparkSession, ref_rows, "label string, ref array<double>"
        )
        out = out.join(F.broadcast(refs), "label", "left")
    else:
        out = out.withColumn("ref", F.lit(None).cast("array<double>"))
    rnorm2 = dot(F.col("ref"), F.col("ref"))
    return out.select(
        "label",
        "n",
        "centroid_norm",
        F.when(
            F.col("ref").isNull()
            | (F.col("norm2") == F.lit(0.0))
            | (rnorm2 == F.lit(0.0)),
            F.lit(None).cast("double"),
        )
        .otherwise(
            fixed6(
                dot(F.col("vec"), F.col("ref"))
                / (F.sqrt(F.col("norm2")) * F.sqrt(rnorm2))
            )
        )
        .alias("cos_ref"),
    )
