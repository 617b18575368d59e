"""Mergeable cardinality sketches with an in-query accuracy gate.

At 100 TB you cannot afford `count(DISTINCT x)` per rollup — the
distinct shuffle is the whole corpus. The scale pattern is: build a
fixed-size mergeable sketch per shard/partition/source ONCE, then
answer every rollup (per source, per language, global) by merging
kilobyte-sized sketches instead of re-shuffling rows. Spark ships two
engines for this:

- `approx_count_distinct` — HyperLogLog++, a long per group, not
  re-mergeable across groups from SQL;
- `hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate` — Apache
  DataSketches HLL, whose BINARY sketches merge associatively: the
  per-source sketches union into the exact-global-corpus sketch
  without touching the tokens again.

Both are order-insensitive register maxima — deterministic for a
fixed input set — so the operator can assert its own error bound
in-query: each estimate is compared against the exact distinct count
and reported as a boolean gate. The gate (default 8% vs a ~1.6%
expected relative error at lg_k=12) is ~5σ; a regenerated corpus
cannot realistically flip it, which is what makes the query
DuckDB-oracle-checkable (the oracle computes the exact counts and
literal TRUE gates).

Beyond-reference surface: the reference's only cardinality logic is
exact `sort -u` / dict dedup (`scripts/merge_filter.sh`,
`finalize_realease.py`) — nothing sketch-based survives past a single
node there.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aurora_mito_etl_spark.operators.textstats import tokens_expr

TOTAL_LABEL = "__TOTAL__"


def _tokens(docs: DataFrame, text_col: str, group_col: str) -> DataFrame:
    """(group, tok) — the shared ASCII-whitespace tokenization
    (textstats.shingles' chain) with empty tokens dropped."""
    toks = tokens_expr(F.coalesce(F.col(text_col), F.lit("")))
    return (
        docs.select(F.col(group_col).alias("grp"), F.explode(toks).alias("tok"))
        .where(F.col("tok") != "")
    )


def _gate(est: Column, exact: Column, rel_gate: float) -> Column:
    return (
        F.abs(est.cast("double") - exact.cast("double"))
        / F.greatest(exact.cast("double"), F.lit(1.0))
    ) <= F.lit(rel_gate)


def distinct_token_report(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    lg_k: int = 12,
    rsd: float = 0.02,
    rel_gate: float = 0.08,
) -> DataFrame:
    """Vocabulary-size report: one row per `group_col` value plus a
    ``__TOTAL__`` row, each carrying the exact distinct token count
    and two sketch-accuracy gates.

    Per-group rows estimate with HLL++ (`approx_count_distinct`) and
    a DataSketches HLL built for that group. The TOTAL row's
    DataSketches estimate comes from `hll_union_agg` over the
    PER-GROUP sketches — the tokens are never re-scanned for the
    global answer, which is the mergeability contract this operator
    exists to pin. Its HLL++ estimate re-aggregates (the non-mergeable
    engine, shown for contrast).

    Output: ``(source, n_distinct_exact, hllpp_within_tol,
    ds_hll_within_tol)``. Exact counts exist here to gate the
    sketches; a pure-production variant would drop them (and with
    them every distinct shuffle).
    """
    toks = _tokens(docs, text_col, group_col)
    per_grp = toks.groupBy("grp").agg(
        F.countDistinct("tok").alias("n_distinct_exact"),
        F.approx_count_distinct("tok", rsd).alias("_hllpp"),
        F.hll_sketch_agg("tok", F.lit(lg_k)).alias("_sk"),
    )
    grp_rows = per_grp.select(
        F.col("grp").alias(group_col),
        "n_distinct_exact",
        _gate(F.col("_hllpp"), F.col("n_distinct_exact"), rel_gate).alias(
            "hllpp_within_tol"
        ),
        _gate(
            F.hll_sketch_estimate("_sk"), F.col("n_distinct_exact"), rel_gate
        ).alias("ds_hll_within_tol"),
    )
    # TOTAL: merge the per-group sketches (kilobytes) instead of
    # re-shuffling tokens; exact + HLL++ re-aggregate for the gate.
    merged = per_grp.agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_ds_total")
    )
    exact_total = toks.agg(
        F.countDistinct("tok").alias("n_distinct_exact"),
        F.approx_count_distinct("tok", rsd).alias("_hllpp"),
    )
    total_row = (
        exact_total.withColumn("_k", F.lit(1))
        .join(F.broadcast(merged.withColumn("_k", F.lit(1))), "_k")
        .select(
            F.lit(TOTAL_LABEL).alias(group_col),
            "n_distinct_exact",
            _gate(F.col("_hllpp"), F.col("n_distinct_exact"), rel_gate).alias(
                "hllpp_within_tol"
            ),
            _gate(F.col("_ds_total"), F.col("n_distinct_exact"), rel_gate).alias(
                "ds_hll_within_tol"
            ),
        )
    )
    return grp_rows.unionByName(total_row)


# ---------------------------------------------------------------------------
# KMV (bottom-k) distinct sketch — deterministic, oracle-checkable,
# streamable (r13)
# ---------------------------------------------------------------------------

KMV_PREFIX_BITS = 48  # 12 hex chars: exact as a double on every engine
_KMV_DOMAIN = float(1 << KMV_PREFIX_BITS)  # 281474976710656.0


def kmv_distinct(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Per-group distinct-count estimate from the k smallest 48-bit
    md5 prefixes of `value_col` — the KMV/bottom-k estimator
    (Bar-Yossef et al. 2002): with U_k = h_k / 2^48 the k-th smallest
    normalized hash, distinct ≈ (k-1)/U_k; below saturation the
    sketch holds EVERY distinct hash and the count is exact.

    Unlike HLL this sketch is fully deterministic AND its state is an
    order-free set (merge = union, keep k smallest), which makes it
    (a) reproducible by a DuckDB oracle bit-for-bit and (b) the
    batch twin of an always-on streaming monitor
    (`streaming/hoststats.py`) with EXACT parity — the same property
    chain as the sig-floor quantile sketch.

    Arithmetic parity notes: the 48-bit prefix is exact as a double;
    (k-1)·2^48 has a ≤53-bit significand so the product is one exact
    IEEE multiply and the division one correctly-rounded op —
    identical on Spark, DuckDB and the python twin; the result is
    fixed6'd on all three.

    Scale shape: one distinct on (group, hash), then the MANDATORY
    two-phase `similarity.topk` with the hash as both score and id (a
    lone host can own the corpus — the mega-group rule), a
    k-bounded per-group aggregate, and a null-safe join back onto the
    per-group row counts (a NULL group is a real group).

    Output: (group_col, n_rows, k_used, distinct_est).
    """
    from aurora_mito_etl_spark.functions.numeric import fixed6
    from aurora_mito_etl_spark.operators.similarity import topk

    base = df.select(F.col(group_col), F.col(value_col))
    counts = base.groupBy(group_col).agg(
        F.count("*").alias("n_rows")
    )
    hashes = (
        base.where(F.col(value_col).isNotNull())
        .select(
            F.col(group_col),
            F.conv(F.substring(F.md5(F.col(value_col)), 1, 12), 16, 10)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    bottom = (
        topk(hashes, group_col, "h", k, score_col="h", ascending=True)
        .groupBy(group_col)
        .agg(
            F.count("*").cast("long").alias("k_used"),
            F.max("h").alias("h_k"),
        )
    )
    est = (
        F.when(F.col("k_used").isNull(), F.lit(0.0))
        .when(
            F.col("k_used") < k,
            fixed6(F.col("k_used").cast("double")),
        )
        .otherwise(
            fixed6(
                F.lit(float(k - 1)) * F.lit(_KMV_DOMAIN) / F.col("h_k")
            )
        )
    )
    return (
        counts.join(
            bottom,
            counts[group_col].eqNullSafe(bottom[group_col]),
            "left",
        )
        .select(
            counts[group_col],
            "n_rows",
            F.coalesce("k_used", F.lit(0)).cast("long").alias("k_used"),
            est.alias("distinct_est"),
        )
    )


def kmv_sql(
    group_expr: str, value_expr: str, source: str, k: int = 64
) -> str:
    """The DuckDB twin of :func:`kmv_distinct` over `source` (a table
    or CTE name): same hash prefix, same saturation rule, same exact
    double product — so oracle parity is by construction."""
    from aurora_mito_etl_spark.functions.numeric import fixed6_sql

    # DuckDB parses a bare `63.0` literal as DECIMAL(3,1), whose
    # product overflows DECIMAL(18) — force DOUBLE so the product is
    # the same single exact IEEE multiply the Spark/python twins do
    dom = f"CAST({1 << KMV_PREFIX_BITS} AS DOUBLE)"
    exact_est = fixed6_sql("CAST(b.k_used AS DOUBLE)")
    sat_est = fixed6_sql(f"CAST({k - 1} AS DOUBLE) * {dom} / b.h_k")
    return f"""
    counts AS (
      SELECT {group_expr} AS grp, COUNT(*) AS n_rows
      FROM {source} GROUP BY 1
    ),
    hashes AS (
      SELECT DISTINCT {group_expr} AS grp,
             CAST('0x' || substr(md5({value_expr}), 1, 12) AS BIGINT) AS h
      FROM {source} WHERE {value_expr} IS NOT NULL
    ),
    ranked AS (
      SELECT grp, h,
             row_number() OVER (PARTITION BY grp ORDER BY h ASC) AS rn
      FROM hashes
    ),
    bottom AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS k_used, MAX(h) AS h_k
      FROM ranked WHERE rn <= {k} GROUP BY grp
    ),
    kmv AS (
      SELECT c.grp, c.n_rows,
             COALESCE(b.k_used, 0) AS k_used,
             CASE WHEN b.k_used IS NULL THEN 0.0
                  WHEN b.k_used < {k} THEN {exact_est}
                  ELSE {sat_est}
             END AS distinct_est
      FROM counts c LEFT JOIN bottom b ON c.grp IS NOT DISTINCT FROM b.grp
    )
    """
