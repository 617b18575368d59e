"""Streaming PSI drift monitor (applyInPandasWithState).

The batch tier (`plans/queries.events_psi_drift`) answers "did the
value distribution shift between two halves of what we ingested"; a
production pipeline also wants the always-on form — "is what is
arriving NOW drifting away from the reference distribution we
trained/calibrated on" — without re-scanning history per micro-batch.

Contract: the REFERENCE is fixed and passed in (per event type: the
nine fixed6 decile boundaries plus the ten reference bin counts —
exactly what the batch query derives from its before-half, or what a
training snapshot exports). The stream only accumulates the CURRENT
histogram per type: state is ten longs per type, forever, and the
fold is ORDER-FREE (pure counting), so the emitted PSI after any set
of micro-batches equals the batch twin on the same rows regardless of
arrival order or batch boundaries — the strongest parity this tier
has (Misra-Gries summaries are merge-order-sensitive; counts are not).

Each micro-batch, every updated type emits
``(event_type, n_ref, n_cur, psi)`` with the SAME +1/(n+10) Laplace
smoothing, per-bin fixed6 contributions, and exact 1e-6-grid integer
summation as the batch oracle — so the stream's psi is bit-identical
to `events_psi_drift`'s for the same reference and rows (pinned in
tests/test_streaming_drift.py). Types with no reference entry are
ignored (nothing to compare against); NULL values are dropped, as in
the batch query.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from aurora_mito_etl_spark.functions.numeric import fixed6_py
from aurora_mito_etl_spark.sources.io import local_frame

N_BINS = 10

# reference_from_frame's bounds table: per event type, the nine decile
# boundaries.
BOUNDS_SCHEMA = "event_type string, " + ", ".join(
    f"b{i} double" for i in range(1, N_BINS)
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType(), False),
        T.StructField("n_ref", T.LongType(), False),
        T.StructField("n_cur", T.LongType(), False),
        T.StructField("psi", T.DoubleType(), False),
    ]
)

_STATE_SCHEMA = T.StructType(
    [T.StructField("cnts", T.ArrayType(T.LongType()))]
)


def _bin_indices(bounds: list[float], values: np.ndarray) -> np.ndarray:
    """The batch query's boundary-compare bin: 1 + #{b_i < v} — for a
    value equal to a boundary, `v > b` is false, which is exactly
    searchsorted side='left' (count of boundaries strictly below v)."""
    return 1 + np.searchsorted(np.asarray(bounds, dtype=np.float64), values, side="left")


def _psi(ref_counts: list[int], cur_counts: list[int]) -> tuple[float, int, int]:
    """Laplace-smoothed PSI with per-bin fixed6 contributions summed
    EXACTLY on the 1e-6 integer grid — the decimal-sum twin of the
    batch oracle, so the double that comes out is the same double."""
    nb, na = int(sum(ref_counts)), int(sum(cur_counts))
    grid_total = 0
    for rb, ca in zip(ref_counts, cur_counts):
        p = (rb + 1) / (nb + N_BINS)
        q = (ca + 1) / (na + N_BINS)
        grid_total += int(round(fixed6_py((p - q) * math.log(p / q)) * 1_000_000))
    return grid_total / 1_000_000, nb, na


def _fold(pdfs, value_col: str, bounds: list[float], cur: list[int]) -> list[int]:
    for pdf in pdfs:
        vals = pdf[value_col].dropna().to_numpy(dtype=np.float64)
        if not len(vals):
            continue
        for b in _bin_indices(bounds, vals):
            cur[int(b) - 1] += 1
    return cur


def psi_drift_stream(
    df: DataFrame,
    reference: dict[str, tuple[list[float], list[int]]],
    value_col: str = "value",
    type_col: str = "event_type",
) -> DataFrame:
    """Always-on PSI monitor: per micro-batch, each updated type with
    a reference emits its current (n_ref, n_cur, psi). State is the
    ten current-bin counts per type — bounded forever, order-free."""

    def update(key, pdfs, state: GroupState):
        (etype,) = key
        ref = reference.get(etype)
        if ref is None:
            # consume without state: no reference to compare against
            for _ in pdfs:
                pass
            return
        bounds, ref_counts = ref
        cur = list(state.get[0]) if state.exists else [0] * N_BINS
        cur = _fold(pdfs, value_col, bounds, cur)
        state.update(([int(c) for c in cur],))
        psi, nb, na = _psi(ref_counts, cur)
        yield pd.DataFrame(
            [(etype, nb, len(cur) and sum(cur), psi)],
            columns=["event_type", "n_ref", "n_cur", "psi"],
        ).astype({"n_ref": np.int64, "n_cur": np.int64, "psi": np.float64})

    return (
        df.select(F.col(type_col).alias("event_type"), F.col(value_col))
        .where(F.col(value_col).isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def psi_drift_batch(
    df: DataFrame,
    reference: dict[str, tuple[list[float], list[int]]],
    value_col: str = "value",
    type_col: str = "event_type",
) -> DataFrame:
    """Batch twin: identical binning, smoothing, and grid summation in
    one pass over a static frame — the parity anchor for the stream
    (order-free counts make the equality exact, not approximate)."""

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        etype = pdf["event_type"].iloc[0]
        ref = reference.get(etype)
        if ref is None:
            return pd.DataFrame(
                columns=["event_type", "n_ref", "n_cur", "psi"]
            ).astype(
                {"n_ref": np.int64, "n_cur": np.int64, "psi": np.float64}
            )
        bounds, ref_counts = ref
        cur = _fold([pdf], value_col, bounds, [0] * N_BINS)
        psi, nb, na = _psi(ref_counts, cur)
        return pd.DataFrame(
            [(etype, nb, na, psi)],
            columns=["event_type", "n_ref", "n_cur", "psi"],
        ).astype({"n_ref": np.int64, "n_cur": np.int64, "psi": np.float64})

    return (
        df.select(F.col(type_col).alias("event_type"), F.col(value_col))
        .where(F.col(value_col).isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type")
        .applyInPandas(summarize, OUT_SCHEMA)
    )


def reference_from_frame(
    df: DataFrame,
    value_col: str = "value",
    type_col: str = "event_type",
) -> dict[str, tuple[list[float], list[int]]]:
    """Build the reference dict from a static snapshot (e.g. the batch
    query's before-half): per type, the nine fixed6 decile boundaries
    and the ten bin counts. One aggregate plus one counting pass; the
    collect is bounded at types x 13 scalars (the documented
    centroid-list exception)."""
    from aurora_mito_etl_spark.functions.numeric import fixed6

    clean = df.select(
        F.col(type_col).alias("event_type"), F.col(value_col).alias("v")
    ).where(F.col("v").isNotNull() & F.col("event_type").isNotNull())
    bounds_rows = (
        clean.groupBy("event_type")
        .agg(
            *[
                fixed6(F.expr(f"percentile(v, 0.{i}D)")).alias(f"b{i}")
                for i in range(1, 10)
            ]
        )
        .collect()
    )
    out: dict[str, tuple[list[float], list[int]]] = {}
    bmap = {
        r["event_type"]: [float(r[f"b{i}"]) for i in range(1, 10)]
        for r in bounds_rows
    }
    # Empty snapshot → empty reference, no counting pass.
    if not bmap:
        return out
    bin_expr = F.lit(1)
    # counting pass reuses the Catalyst boundary-compare (identical
    # semantics to the batch oracle), joined against the tiny bounds
    bdf = local_frame(
        df.sparkSession,
        [(t, *bs) for t, bs in bmap.items()],
        BOUNDS_SCHEMA,
    )
    for i in range(1, 10):
        bin_expr = bin_expr + (F.col("v") > F.col(f"b{i}")).cast("int")
    cnt_rows = (
        clean.join(F.broadcast(bdf), "event_type")
        .select("event_type", bin_expr.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count("*").cast("long").alias("c"))
        .collect()
    )
    counts: dict[str, list[int]] = {t: [0] * N_BINS for t in bmap}
    for r in cnt_rows:
        counts[r["event_type"]][r["bin"] - 1] = int(r["c"])
    for t, bs in bmap.items():
        out[t] = (bs, counts[t])
    return out
