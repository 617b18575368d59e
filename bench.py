"""Headline benchmark — prints ONE JSON line for the driver.

Runs a representative query suite at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and reports
per-query and total wall seconds. Each query is forced through the
noop sink so the full plan (all columns, all operators) executes
without driver-side collection skew.

Usage: python bench.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    # relational spine
    "pricing_summary",
    "revenue_by_nation",
    "shipping_priority_topk",
    "order_priority_counts",
    "order_rollup_per_customer",
    "keep_first_order_per_customer",
    "topk_mean_supplier",
    "window_order_stats",
    # events analytics
    "events_hourly",
    "events_sessionize",
    "events_moving_avg",
    "events_funnel",
    "events_funnel_windowed",
    "events_rfm",
    "events_psi_drift",
    "events_type_hour_chi2",
    "events_k_anonymity",
    "events_retention",
    "events_pagerank",
    "events_hits",
    "events_top_paths",
    # text analysis
    "docs_clean_text",
    "docs_quality",
    "docs_lang_id",
    "docs_token_stats",
    "docs_repetition",
    "docs_ngram_repetition",
    "docs_ngram_diversity",
    "docs_char_entropy",
    "docs_line_language",
    "docs_source_overlap",
    "docs_quality_funnel",
    "docs_zipf_slope",
    "docs_length_ks",
    "docs_length_quantiles_sketch",
    # web-corpus surface (r13)
    "docs_html_extract",
    "docs_url_normalize",
    "docs_url_dedup",
    "docs_host_report",
    "docs_host_distinct_kmv",
    # quality filtering / privacy / decontamination
    "docs_gopher_quality",
    "docs_c4_filter",
    "docs_pii_redact",
    "docs_decontaminate",
    "docs_decontaminate_bloom",
    "emb_benchmark_decontam",
    "docs_dsir_weights",
    # sampling / quantization / packing
    "docs_stratified_sample",
    "docs_mixture_sample",
    "docs_weighted_sample",
    "docs_pack_sequences",
    "docs_epoch_shuffle",
    "docs_chunk_windows",
    "docs_bigram_pmi",
    "docs_heavy_hitters",
    "docs_cms_estimates",
    "docs_winnow_fingerprints",
    "docs_source_report",
    "docs_bpe_pair_counts",
    "docs_bpe_train",
    "docs_tokenizer_fertility",
    "docs_vocab_sketch",
    "docs_source_divergence",
    "emb_quantize_int8",
    "emb_jl_project",
    "emb_jl_distortion",
    "emb_pq_encode",
    "emb_pq_adc_topk",
    "emb_ivfpq_topk",
    "emb_ivfpq_rerank",
    "emb_dim_stats",
    "emb_kmeans_assign",
    "emb_pca_cov",
    "emb_pca_pc1",
    "emb_pca_project2",
    "emb_cov_drift",
    "emb_whitened_norm",
    # dedup
    "docs_exact_dedup",
    "docs_strip_boilerplate",
    "docs_dedup_lines",
    "docs_dedup_lines_global",
    "docs_ngram_jaccard_pairs",
    "docs_dup_triangles",
    "docs_dup_kcore",
    "docs_containment_pairs",
    "docs_minhash_lsh_pairs",
    "docs_minhash_est_audit",
    "docs_source_keywords",
    "docs_heaps_fit",
    "docs_simhash_pairs",
    "docs_near_dedup_survivors",
    "docs_label_spread",
    "docs_incremental_near_dup",
    "docs_split_leakage",
    "docs_duplicate_spans",
    "docs_exact_substring_spans",
    # similarity search
    "docs_tfidf_topk",
    "docs_bm25_search",
    "docs_ql_search",
    "docs_rrf_fusion",
    "docs_mmr_rerank",
    "docs_lm_score",
    "emb_lsh_recall",
    "emb_dim_truncation_recall",
    "emb_rbo_overlap",
    "emb_hard_positives",
    "emb_cosine_topk",
    "emb_near_dup_exact",
    "emb_lsh_near_dup",
    "emb_semantic_dedup",
    "emb_hard_negatives",
    "emb_label_centroid_cosine",
    "emb_label_outliers",
    "emb_centroid_confusion",
    # joins / function surface
    "events_asof_join",
    "supplier_fuzzy_pairs",
    "lineitem_qty_range_join",
    "pricing_rollup",
    "events_cube",
    "orders_except_intersect_all",
    "lineitem_price_percentiles",
    "lineitem_price_percentiles_approx",
    "lineitem_price_quantiles_dist",
    "lineitem_price_quantiles_grouped",
    "lineitem_price_quantiles_grouped_dist",
    "lineitem_price_quantiles_sketch",
    "lineitem_corr_stats",
    "lineitem_price_moments",
    "lineitem_profile",
    "lineitem_winsorized",
    "part_normalize_dedup",
    "docs_ac_dict_filter",
    "scalar_function_parity",
    "orders_zorder_key",
    # flagship
    "flagship_compound_mentions",
    "flagship_training_corpus",
]

# Production-hash dedup variants (xxhash64): the registered queries
# run portable md5-derived hashes so DuckDB can oracle-check the whole
# operator (~3× slower, dedup.py's documented portability tax). The
# headline number must ALSO show the 100 TB fast path, so bench times
# both — same plan shape, only the hash expression differs.
PROD_VARIANTS = {
    "docs_minhash_lsh_pairs_prod": lambda dd, lt, spark, sf_dir: dd.minhash_lsh_pairs(
        lt(spark, sf_dir, "documents"), "text", "doc_id",
        k_shingle=3, num_hashes=16, bands=4, threshold=0.3, portable_hash=False,
    ),
    # r4/r5 flagged this twin as measuring SLOWER than the portable
    # path. Profiled r6 on a quiet box (best-of-3 per substage,
    # sf0.1): prod is faster or equal at EVERY stage — hash 0.65s vs
    # 0.87s (xxhash64 vs md5+substr+conv), signature agg 1.16s vs
    # 1.21s, pairs 1.39s vs 1.48s — and the shared shingles_arrow
    # explode dominates both, so the deltas sit inside this box's
    # noise band (portable sig alone swung 1.21-2.45s across repeats
    # in one session). The earlier inversions were interleaved-bench
    # noise, not a real cost: 64 vs 60 vote columns is the only
    # structural difference. A sum(getbit)+count reformulation of the
    # votes was measured bit-identical and not reliably faster; kept
    # the simpler ±1-vote form.
    "docs_simhash_pairs_prod": lambda dd, lt, spark, sf_dir: dd.simhash_pairs(
        lt(spark, sf_dir, "documents"), "text", "doc_id",
        k_shingle=3, max_hamming=16, portable_hash=False,
    ),
    # Arrow/BLAS PQ encode (expression-fold twin is the oracle path;
    # Spark interprets lambda expressions, numpy batches don't)
    "emb_pq_encode_prod": lambda dd, lt, spark, sf_dir: __import__(
        "aurora_mito_etl_spark.operators.quantize", fromlist=["quantize"]
    ).pq_encode_arrow(
        lt(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
        dim=64, m=4, n_centroids=16,
    ),
    # BLAS verify twins of the embedding near-dup tier: the registered
    # queries run the ordered oracle-parity gram fold; these run one
    # dgemm per chunk in the same bucketed plan (similarity.py
    # _same_bucket_pairs blas=True). Same parameters as the registered
    # queries; pair equality pinned by test_similarity_prod_twins.py.
    "emb_lsh_near_dup_prod": lambda dd, lt, spark, sf_dir: __import__(
        "aurora_mito_etl_spark.operators.similarity", fromlist=["similarity"]
    ).embedding_near_dup_pairs(
        lt(spark, sf_dir, "embeddings"),
        threshold=0.4, n_planes=4, dim=64, multi_probe=2, blas=True,
    ),
    "emb_semantic_dedup_prod": lambda dd, lt, spark, sf_dir: (
        lambda sim: sim.semantic_dedup(
            lt(spark, sf_dir, "embeddings"),
            threshold=0.4, dim=64, n_cells=16,
            centroids=sim.ivf_centroids(64, 16), blas=True,
        )
    )(
        __import__(
            "aurora_mito_etl_spark.operators.similarity", fromlist=["similarity"]
        )
    ),
}


def main() -> int:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    from aurora_mito_etl_spark.plans.queries import QUERIES
    from aurora_mito_etl_spark.session import get_spark

    spark = get_spark(app_name="aurora-mito-etl-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen paths AND the Python/Arrow worker pool once
    # so per-query numbers measure the plan, not first-call startup.
    QUERIES["pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    from pyspark.sql import functions as F

    warm = spark.range(64).repartition(64)
    warm.select(
        F.pandas_udf(lambda s: s + 1, "long")(F.col("id")).alias("x")
    ).write.format("noop").mode("overwrite").save()

    # Best of two runs per query: the second run reuses compiled
    # codegen, and the min damps transient scheduler/GC stalls — the
    # number reported is the plan's cost, not the environment's.
    from aurora_mito_etl_spark.operators import dedup as dd
    from aurora_mito_etl_spark.sources.catalog import load_table

    runnable = {name: QUERIES[name] for name in HEADLINE}
    for name, make in PROD_VARIANTS.items():
        runnable[name] = (
            lambda spark, sf_dir, _make=make: _make(dd, load_table, spark, sf_dir)
        )

    # Noise damping (VERDICT r04 ask #7): the two timing samples are
    # INTERLEAVED across the suite — run every query once, then the
    # whole suite again — instead of back-to-back per query. This box
    # shows transient 10-25s stalls; back-to-back samples let one
    # stall poison both measurements of the same query, while samples
    # a full suite apart are uncorrelated, so min() actually removes
    # the stall instead of averaging it in.
    # Session hygiene between queries (r14, VERDICT r13 ask #5): the
    # operators' in-query localCheckpoint blocks are dead the moment a
    # query's noop save returns (the next build creates fresh ones),
    # but the ContextCleaner only reclaims them on JVM GC, so storage
    # in the shared local JVM oscillated up to ~320 MiB mid-suite.
    # Explicitly unpersisting between queries (UNTIMED — after the
    # elapsed reading) measured consistently faster suite passes
    # (tools/ckpt_hygiene.py A/B: pass totals 62-71s vs 74-104s on the
    # 16-query checkpoint-heavy tier, two repeats each) and removes a
    # cross-query contamination: one query's leaked storage inflating
    # ANOTHER query's GC time. Timing methodology itself is unchanged
    # (same noop sink, same interleaved best-of-2).
    def _drop_dead_checkpoints() -> None:
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)

    per_query: dict[str, float] = {}
    for _pass in range(2):
        for name, fn in runnable.items():
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            per_query[name] = round(min(per_query.get(name, elapsed), elapsed), 3)
            _drop_dead_checkpoints()

    total = round(sum(per_query.values()), 3)
    payload = {
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
    }
    # The driver captures only the tail of stdout (BENCH_r05.json was
    # truncated mid-object at 2,000 chars) — ALWAYS persist the full
    # per-query JSON to a committed artifact so numbers survive.
    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(repo, "bench_full_latest.json"), "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
            f.write("\n")
    except OSError:
        pass
    print(json.dumps(payload))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
