"""Adversarial-data replay of the oracle gate.

The driver's correctness gate runs on generator-produced data whose
distributions are tame; a Spark-vs-DuckDB divergence in a regex class,
trim semantics, window tie-break, or interval boundary only surfaces
when a hostile value actually hits it. This tool regenerates ONE table
with adversarial data — the other nine copied verbatim from a real SF
dir — then runs the standard `run_gate` compare for every
oracle-paired query driven by that table.

Tiers:
- docs: documents with regex metacharacters, backslashes, quotes,
  mixed/exotic whitespace, accented letters, zero-length and
  whitespace-only docs, very long tokens, planted duplicates.
  r8 findings: Java-vs-RE2 `\\s` on \\x0b; trim-before-squeeze
  off-by-one; whitespace-only phantom chunk.
- events: timestamp TIES on (user_id, ts), gaps exactly at the
  30-minute session boundary and the 5-minute interval-join boundary,
  midnight/hour-edge timestamps, a hot user, NULL user_id/value rows,
  negative/zero/huge values, edge-case JSON props.
- relational: orders+customer+part+supplier+region regenerated
  TOGETHER (the one multi-table tier) — threshold/bin-boundary money,
  window-tie blocks, NULL acctbals, normalization-colliding part
  names, edit-distance name clusters, dangling FKs, case-variant
  region names. r8 findings: shingle-less-doc row loss in the
  bottom-k oracle; motivated the decimal segment average and the
  explicit NULLS-LAST quartile ordering.

Deliberate scope bounds (documented, not bugs):
- Text stays in Latin-1-ish + controlled specials. Full unicode is
  out of scope: Java regex and RE2 genuinely differ on some unicode
  character classes, and ASCII transliteration is glibc-dependent
  (documented divergence in operators/unicode_udfs.py) — the shipped
  generator never emits those, so the gate contract doesn't cover
  them.
- Only the whitespace forms the shipped oracles already normalize
  (space, tab, newline, \x0b, \f, \r) are generated.
- No NaN/Inf doubles (the fixed6/decimal twins are not NaN-portable).
  Sparse NULL ts rows ARE generated in the events tier (r9) — every
  ts-consuming oracle must pin NULL ordering/filtering explicitly.

Usage: python tools/fuzz_gate.py [seed] [n_rows] [tier]
tier in {docs, events, lineitem, embeddings, relational, schema, all}
(default docs); n_rows 0 (or omitted) uses each tier's default size.
`all` = the five DATA tiers; `schema` is the separate chaos tier
(r9): historically-shipped alternate schema forms (events.ts as
INT64 nanos), all-NULL nullable columns, and empty-but-typed tables,
each replayed through the full oracle gate for the affected table.
Exit 1 on any mismatched query, 2 on bad arguments.
"""

from __future__ import annotations

import random
import shutil
import sys
import tempfile
from datetime import datetime, timedelta
from pathlib import Path

sys.path.insert(0, ".")
sys.path.insert(0, "tools")

BASE_SF = "/root/testdata/sf0.001"

# Documents-driven, oracle-paired queries exercising the text tier.
DOCS_QUERIES = {
    # r12: per-source length quantiles via the deterministic sketch
    # (NULL n_chars dropped, NULL source kept; tiny-n single-row groups)
    "docs_length_quantiles_sketch",
    "docs_clean_text",
    "docs_paren_truncate",
    "docs_ordered_typos",
    "docs_token_explode",
    "docs_topical_filter",
    "docs_dict_anti_filter",
    "docs_ac_dict_filter",
    "docs_exact_dedup",
    "docs_quality",
    "docs_lang_id",
    "docs_token_stats",
    "docs_repetition",
    "docs_ngram_repetition",
    "docs_chunk_windows",
    "docs_chunked",
    "docs_length_histogram",
    "docs_contiguous_ids",
    "docs_hash_sample",
    "docs_gopher_quality",
    "docs_c4_filter",
    "docs_pii_redact",
    "docs_source_report",
    "docs_source_report_counts",
    "docs_stratified_sample",
    "docs_weighted_sample",
    "docs_bpe_pair_counts",
    # token-pipeline / dedup / sketch tier (heavier, same exposure)
    "docs_tfidf_topk",
    "docs_bm25_search",
    "docs_lm_score",
    # r10: per-doc char entropy — the Unicode-whitespace/NBSP fuzz
    # alphabet exercises codepoint-grain substring parity; empty and
    # single-char docs hit the 0-count spine and p=1 (-0.0) arms
    "docs_char_entropy",
    "docs_source_entropy",
    "docs_source_divergence",
    "docs_vocab_sketch",
    "docs_ngram_jaccard_pairs",
    # r10: triangle census of the jaccard near-dup graph — the fuzz
    # dup groups form cliques, exercising wedge closure + the
    # degree-orientation parity with the id-ordered oracle replay
    "docs_dup_triangles",
    # r10: bounded 2-core peel of the same graph — fuzz dup cliques
    # survive the peel, tendrils exercise the shrink/converged arms
    "docs_dup_kcore",
    "docs_minhash_lsh_pairs",
    # r12: LSH signature-accuracy audit — fuzz dup clusters populate
    # the full-match row, shared-boilerplate docs the partial-match
    # rows; tiny-n corpora exercise the empty-candidate-set arm
    "docs_minhash_est_audit",
    # r12: per-source smoothed TF-IDF keywords — NULL sources dropped
    # consistent-by-drop, Unicode-WS alphabet exercises the token
    # spine, single-source corpora the idf-constant degradation
    "docs_source_keywords",
    # r12: Heaps vocabulary-growth fit — tiny-n hits the nx<2 NULL-fit
    # guard, empty/NULL-text docs the zero-token cumulative points,
    # dup clusters flatten the type curve
    "docs_heaps_fit",
    "docs_simhash_pairs",
    "docs_near_dedup_survivors",
    "docs_duplicate_spans",
    "docs_exact_substring_spans",
    "docs_containment_pairs",
    "docs_bigram_pmi",
    "docs_ngram_novelty",
    "docs_dsir_weights",
    "docs_decontaminate",
    "docs_decontaminate_bloom",
    "docs_ccnet_buckets",
    "docs_temperature_mixture",
    "docs_mixture_sample",
    "docs_pack_sequences",
    "docs_epoch_shuffle",
    "docs_quality_ensemble",
    # documents-only queries added in r8 so EVERY docs-driven oracle
    # is fuzz-covered (they were simply missing from the set)
    "docs_bottom_k_sketch",
    "docs_classify_stub",
    "docs_fingerprint",
    "docs_incremental_near_dup",
    "docs_lm_score_external",
    "docs_media_features",
    "docs_near_dedup_best",
    # r9: label propagation through dup clusters — adversarial docs
    # build degenerate clusters (exact dups, empty docs); the masked
    # seeds exercise the all-unlabeled-component and NULL-seed arms
    "docs_label_spread",
    "docs_source_report_qsum",
    "docs_source_report_quality",
    "docs_token_positions",
    "docs_top_words",
    "flagship_compound_mentions",
    "flagship_training_corpus",
    # r8: line-level boilerplate family (same-source planted dups
    # guarantee positive rows)
    "docs_boilerplate_lines",
    "docs_strip_boilerplate",
    "docs_dedup_lines",
    "docs_dedup_lines_global",
    "docs_bpe_train",
    "docs_bpe_subwords",
    # r8: fertility report composes the trained dictionary per-source
    "docs_tokenizer_fertility",
    # r8: Misra-Gries heavy-hitter twin — the fuzz corpora keep
    # per-partition vocab far below the 65536-counter bound, so the
    # candidate pass is exact and the oracle comparison is strict
    "docs_heavy_hitters",
    # r8: winnowing fingerprints — planted duplicates guarantee shared
    # runs; hostile tokens stress the packed-key decode
    "docs_winnow_fingerprints",
    # r8: count-min sketch — the adversarial vocabulary is far wider
    # than the generator's 31-token pool, so the width-16 grid is
    # saturated and the min-over-rows recovery is stressed on hostile
    # tokens (metacharacters in md5 inputs are just bytes, but the
    # probe set's doc_id<10 slice now holds exotic tokens)
    "docs_cms_estimates",
    # r8: distinct-n diversity — hostile tokens + empty/ws-only docs
    # exercise the ''-gram parity branch between engines
    "docs_ngram_diversity",
    # r8: per-line lang-id rollup — the fuzz docs are multi-line
    # (newline-joined), unlike the shipped single-line generator, so
    # THIS tier is where the line split + doc-grain windows actually
    # see >1 line per doc
    "docs_line_language",
    # r8: split-leakage audit — planted duplicates guarantee crossing
    # pairs at some seeds; the side predicate is pure id hash
    "docs_split_leakage",
    # r8: pairwise source 3-gram overlap matrix — hostile tokens +
    # planted cross-source duplicates exercise both the shared-gram
    # join and the no-overlap pair omission on the same data
    "docs_source_overlap",
    # r8: per-source quality funnel — hostile docs flip every gate
    # combination, so the sequential conditional counts are exercised
    # beyond the shipped corpus's mostly-passing profile
    "docs_quality_funnel",
    # r8: Dirichlet QL + RRF fusion — fuzz corpora may lack some or
    # all query terms, exercising the dropped-term and empty-candidate
    # branches plus the fusion's NULL-rank outer-join arms
    "docs_ql_search",
    "docs_rrf_fusion",
    # r8: Zipf rank-frequency fit — hostile token distributions and
    # tiny vocabularies exercise the top-100 boundary and the
    # sub-100-term fit on both engines
    "docs_zipf_slope",
    # r8: per-source length KS — fuzz length distributions are
    # extreme (empty docs to huge tokens), exercising the jump-point
    # sup and the rest-of-corpus complement arithmetic
    "docs_length_ks",
    # r8: MMR re-rank — fuzz corpora can shrink the BM25 shortlist
    # below k (or to zero), exercising the early-exhaustion arm of
    # the unrolled greedy on both engines
    "docs_mmr_rerank",
    # r13: web-corpus surface — the page/URL scaffolds are built from
    # documents columns, so hostile text (unicode ws/quotes/angle
    # brackets, NULL/empty/constant arms) flows through the full HTML
    # density heuristic, the URL canonicalizer's regex/param-sort
    # rules, and the host/url-keyed aggregates on both engines
    "docs_html_extract",
    "docs_url_normalize",
    "docs_url_dedup",
    "docs_host_report",
    # r13: per-host KMV distinct sketch — hostile texts exercise both
    # estimator branches (constant-content arms saturate nothing;
    # unique-text arms saturate every host) and the NULL-host group
    "docs_host_distinct_kmv",
}

# Relational-spine queries driven by orders/customer/part/supplier —
# the tier regenerates all four tables at once (hostile names, exact
# threshold/bin-boundary money, heavy window ties, dangling FKs).
# Scope bounds, same spirit as the docs tier's:
# - key and name columns stay NON-NULL except s_name (both engines
#   drop NULL names) and c_acctbal (NULL ordering made explicit in
#   customer_balance_quartiles) — a NULL c_name would hit the known
#   locate()-vs-CASE NULL gap in scalar_function_parity's oracle,
#   which real data never exercises;
# - supplier names stay ASCII: DuckDB levenshtein counts BYTES
#   (café→cafe = 2) while Spark counts codepoints (= 1), so unicode
#   edit distance is out of the gate contract;
# - money stays 2-decimal (TPC-H contract; the DECIMAL(18,6) casts
#   in the oracles are exact for 2-decimal values).
RELATIONAL_QUERIES = {
    "acctbal_threshold_label",
    "best_part_per_brand",
    "customer_balance_quartiles",
    "customer_order_full_outer",
    "customers_without_orders",
    "keep_first_order_per_customer",
    "order_rollup_per_customer",
    "order_value_bins",
    "orders_above_segment_avg",
    "orders_except_intersect_all",
    "orders_pivot_priority",
    "orders_zorder_key",
    "part_normalize_dedup",
    "priority_set_ops",
    "scalar_function_parity",
    "supplier_fuzzy_pairs",
    "two_tier_lookup",
    "union_known_panel",
    "window_order_stats",
}

LINEITEM_QUERIES = {
    "pricing_summary",
    "revenue_by_nation",
    "local_supplier_volume",
    # r9: Q3 shipping priority — fuzz dates straddle the 1996-07-01
    # cut and the LEGACY/lowercase segments miss the BUILDING filter
    "shipping_priority_topk",
    "order_priority_counts",
    "topk_mean_supplier",
    "lineitem_qty_range_join",
    "pricing_rollup",
    "lineitem_price_percentiles",
    "lineitem_price_percentiles_approx",
    "lineitem_winsorized",
    "lineitem_corr_stats",
    # r10: grouped skew/kurtosis — the tie blocks and zero prices
    # stress the fixed6-mean recentering; constant-content and tiny-n
    # variants hit the zero-central-variance NULL contract
    "lineitem_price_moments",
    # r11: distributed exact quantiles — fuzz price blocks (negatives,
    # 1e9-magnitude outliers, duplicate values) stress the grid +
    # integer rank thresholds; tiny-n/empty variants hit the n=0
    # empty-result contract
    "lineitem_price_quantiles_dist",
    "lineitem_price_quantiles_grouped",
    # r12: the mega-group-safe dist variant (grouped prefix sum +
    # two-level (group, pid) selection) and the deterministic
    # sig-digit sketch — mixed-NULL l_returnflag arms hit the NULL
    # group, negative/1e9-outlier prices hit the sig-floor negative
    # branch and decade boundaries, tiny-n hits single-row groups
    "lineitem_price_quantiles_grouped_dist",
    "lineitem_price_quantiles_sketch",
    "lineitem_profile",
}

EMB_QUERIES = {
    "emb_array_ops",
    "emb_quantize_int8",
    "emb_cosine_topk",
    "emb_knn_classify",
    "emb_near_dup_exact",
    "emb_lsh_near_dup",
    "emb_lsh_topk",
    "emb_ivf_topk",
    "emb_kmeans_assign",
    "emb_dim_stats",
    "emb_semantic_dedup",
    "emb_pq_adc_topk",
    "emb_ivfpq_topk",
    "emb_ivfpq_recall",
    # r8: shortlist + exact re-rank — near-tie adversarial vectors
    # stress the fixed6 cosine tie-break and the shortlist boundary
    "emb_ivfpq_rerank",
    # r8: hard negatives — the fuzz tier's NULL labels exercise the
    # null-safe IS DISTINCT FROM on both engines
    "emb_hard_negatives",
    # r8: hard positives — STRICT label equality (NULL never pairs),
    # the deliberate contrast with the negative miner's null-safety
    "emb_hard_positives",
    "emb_pq_encode",
    "emb_lsh_recall",
    # r8: dim-truncation recall — fuzz vectors include zero and
    # zero-prefix rows, exercising the truncated side's norm guard
    "emb_dim_truncation_recall",
    # r10: rank-biased overlap between the same two rankings — the
    # near-tie vectors stress the greatest(rank,rank) weight lookup
    # boundary and the no-overlap COALESCE arm
    "emb_rbo_overlap",
    # r10: JL projection + distortion — NULL-element and short fuzz
    # vectors exercise the all-or-NULL chain contract (F.get vs
    # DuckDB [] out-of-bounds parity), duplicate vectors the den=0 arm
    "emb_jl_project",
    "emb_jl_distortion",
    # r10: semantic benchmark decontamination — duplicate/negated fuzz
    # vectors hit the 0.95 threshold boundary, NULL-element vectors
    # the all-NULL-score verdict arm, n=1 the empty-probe-set arm
    "emb_benchmark_decontam",
    # r9: bit-portable PCA — the duplicate/negated/zero/magnitude-300
    # rows stress the decimal covariance sums; the power-iteration
    # replay exercises the zero-norm CASE and the NULL-label rows the
    # all-or-NULL projection chain
    "emb_pca_cov",
    "emb_pca_pc1",
    # r9: covariance drift between corpus halves — the all-NULL and
    # empty variants exercise the NULL-covariance cross join
    "emb_cov_drift",
    # r9: whitened norms (degenerate-variance dims -> NULL scores) and
    # the 2-D PCA projection (deflation chain under duplicate clusters,
    # the zero vector, and the magnitude-300 row)
    "emb_whitened_norm",
    "emb_pca_project2",
    # r12: per-label centroid geometry — NULL labels / NULL elements /
    # zero vector exercise the exclusion contract and the zero-norm
    # NULL guard; duplicate clusters give exactly-parallel centroids
    "emb_label_centroid_cosine",
    # r12: centroid-distance outliers — negated/duplicate clusters
    # give exact -1/+1 scores (id tie-breaks), the zero vector the
    # NULL-score NULLS LAST tail, NULL labels/elements the exclusions
    "emb_label_outliers",
    # r12: nearest-centroid confusion — duplicate clusters pin exact
    # argmax ties (label asc), the zero vector the row exclusion,
    # negated copies the off-diagonal cells
    "emb_centroid_confusion",
}

EVENTS_QUERIES = {
    "events_interval_join",
    "events_hourly",
    "events_sessionize",
    "events_hourly_gap_filled",
    "events_session_windows",
    "events_json_extract",
    "events_moving_avg",
    "events_asof_join",
    "events_pagerank",
    # r9: HITS — NULL event_type rows (sparse in make_events since
    # r10) and NULL-ts exclusion ride the same transition-graph
    # semantics as pagerank; both filter NULL vertices by contract
    "events_hits",
    "events_top_paths",
    # r10: conversion-window funnel — the generator's exact 30-min/
    # 5-min/hour-edge gaps land ON the 2h window boundary (<= bound),
    # NULL ts rows never match either >= anchor
    "events_funnel_windowed",
    "events_cube",
    "events_value_anomaly",
    "events_key_skew_report",
    # r8: RFM segmentation — NULL user_ids/values/ts in this tier
    # exercise the row filter, NULL-metric labels and the NULL-
    # ignoring max/sum/percentile chain on both engines
    "events_rfm",
    # r8: PSI drift — skewed/NULL-bearing fuzz values exercise the
    # empty-bin Laplace arm and tie-heavy decile boundaries
    "events_psi_drift",
    # r8: chi-square type x hour — sparse fuzz grids exercise the
    # zero-cell expected-mass arm
    "events_type_hour_chi2",
    # r8: k-anonymity audit — NULL ts/value rows form their own
    # quasi-groups; fuzz exercises the all-NULL-boundary arm too
    "events_k_anonymity",
    "events_funnel",
    "events_retention",
    "events_profile",
}

WORDS = [
    "alpha", "beta", "Gamma", "DELTA", "métro", "naïve", "café",
    "a.b", "a*b", "(x)", "[y]", "{z}", "x|y", "x+y", "x?y", "x^y",
    "end$", "\\n", "\\\\", "100%", "_under_", "semi;colon",
    "it's", 'quo"te', "tab\tinside", "comma,sep", "5'-utr", "β",
    "Æon", "ØRSTED", "ß", "ÿ", "the", "of", "and", "is", "was",
    "diabetes", "metformin", "aspirin", "mitochondria",
    # terms the topical-filter / BM25 queries actually match, so the
    # fuzz exercises their positive paths too (they were 0-row before)
    "scan", "merge", "window", "stream", "hash", "join", "sort",
    # r10: open the classify-stub's POSITIVE path (flag != NO + name
    # extraction) — it had never fired in fuzz, hiding a real
    # tokenization divergence (Python str.split() vs the oracle's
    # ASCII-class squeeze+split) and a Unicode-isupper() one (Ø/Æ pass
    # Python, fail the oracle's ^[A-Z]). "complex i" carries the
    # bigram whole; Æon/ØRSTED above are the non-ASCII-capital probes.
    "complex i", "NADH", "inhibit", "inhibits", "decrease", "reduce",
    "Rotenone", "Metformin",
    # r10 word-boundary probes: a Unicode letter DIRECTLY adjacent to
    # a topical keyword — Java's \b calls é/ß word chars (no boundary)
    # while RE2's ASCII \b sees a boundary; the queries now use the
    # explicit [^\p{L}\p{N}_] boundary class, identical on both.
    "éscan", "windowß", "mergé",
]
# \xa0 (NBSP) and   (thin space): NOT whitespace to the repo's
# explicit ASCII class — but Python's bare str.split()/strip() DO
# break on them, the r10 twin-divergence class. They ride inside
# tokens on both engines.
WS = [" ", "  ", "\t", "\n", "\x0b", "\f", "\r", " \t ", "\n\n",
      "\xa0", "   "]
PARENS = ["(note)", "(a(b)c)", "(unclosed", "closed)", "()", "( )"]


def make_text(rng: random.Random) -> str:
    kind = rng.random()
    if kind < 0.03:
        return ""
    if kind < 0.06:
        return rng.choice(WS) * rng.randint(1, 4)
    if kind < 0.09:
        return rng.choice(WORDS) * rng.randint(30, 120)  # one huge token
    if kind < 0.13:
        # multi-line page whose own nav/footer line repeats (possibly
        # with differing surrounding whitespace) — the positive path
        # for intra-doc line dedup
        nav = rng.choice(WORDS) + " " + rng.choice(WORDS)
        body = [rng.choice(WORDS) + rng.choice(WS) for _ in range(rng.randint(1, 6))]
        lines = [nav] + body + [rng.choice(["", " ", "\t"]) + nav + rng.choice(["", " "])]
        if rng.random() < 0.3:
            lines.insert(1, "")  # blank structural line
        return "\n".join(lines)
    n = rng.randint(1, 60)
    parts = []
    for _ in range(n):
        parts.append(rng.choice(WORDS))
        if rng.random() < 0.12:
            parts.append(rng.choice(PARENS))
        parts.append(rng.choice(WS) if rng.random() < 0.3 else " ")
    txt = "".join(parts)
    if rng.random() < 0.2:
        txt = rng.choice(WS) + txt + rng.choice(WS)  # leading/trailing ws
    return txt


def make_documents(rng: random.Random, n: int):
    import pyarrow as pa

    # the REAL source domain is src0..src19 (the mixture/temperature
    # queries target specific src names — web/books/etc matched none)
    sources = [f"src{i}" for i in range(20)]
    langs = ["en", "fr", "de", "xx"]
    rows = []
    for i in range(n):
        # sparse NULL lang/source rows (r11, the mixed-NULL group-key
        # arm — complements the schema tier's ALL-NULL variants: a
        # NULL group coexisting with real groups exercises groupBy
        # NULL-group parity, join NULL-drop symmetry and window
        # NULL-partition handling on every per-source/per-lang query)
        lang = None if rng.random() < 0.02 else rng.choice(langs)
        src = None if rng.random() < 0.02 else rng.choice(sources)
        rows.append((i, make_text(rng), lang, src))
    # a few exact duplicates for the dedup queries; half keep the
    # original's SOURCE so line-level boilerplate detection (which is
    # per-source) has positive rows, not just the empty result
    for i in range(n, n + max(1, n // 20)):
        j = rng.randrange(n)
        src = rows[j][3] if rng.random() < 0.5 else rng.choice(sources)
        rows.append((i, rows[j][1], rng.choice(langs), src))
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            # sparse NULL n_chars rows (r11: the mixed-NULL length arm
            # — cumulative ECDF windows order NULL first under Spark's
            # bare asc but last in DuckDB, the divergence class fixed
            # with explicit asc_nulls_last in docs_length_ks; n_chars
            # is a physical column, so a NULL with non-NULL text is a
            # legal upstream state)
            "n_chars": pa.array(
                [None if rng.random() < 0.02 else len(r[1]) for r in rows],
                pa.int64(),
            ),
        }
    )


EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
PROPS = [
    '{"k": 0}', '{"k": 1}', '{"k": -7}', '{"k": 12345678901}',
    '{"k": 3, "j": "x"}', '{"j": 1}', "{}", '{"k": null}',
    # r10: malformed / non-object JSON — Spark's get_json_object
    # returns NULL, DuckDB's json_extract_string RAISES without the
    # json_valid() guard the oracle now carries; dup-key and
    # whitespace forms agree on both engines (probe matrix, r10)
    "not json", "", "[1, 2]", '{ "k" : 7 }', '{"k":2,"k":5}',
]


def make_events(rng: random.Random, n: int):
    """Adversarial events: exact timestamp ties per user, gaps landing
    EXACTLY on the 30-min sessionize and 5-min interval-join
    boundaries, midnight/hour-edge timestamps, a hot user, sparse NULL
    user_id/value/ts rows, negative/zero/huge values."""
    import pyarrow as pa

    base = datetime(2024, 1, 1, 0, 0, 0)
    users = list(range(1, 21))
    cur: dict[int, datetime] = {}
    rows = []
    for i in range(n):
        r = rng.random()
        # the hot user takes ~25% of all rows (skew-report stress)
        u = 1 if r < 0.25 else rng.choice(users)
        if rng.random() < 0.02:
            u = None  # NULL key rows
        prev = cur.get(u if u is not None else -1, base)
        g = rng.random()
        if g < 0.10:
            step = timedelta(0)  # exact tie with previous event
        elif g < 0.20:
            step = timedelta(minutes=30)  # exactly the session gap
        elif g < 0.26:
            step = timedelta(minutes=5)  # exactly the interval bound
        elif g < 0.32:
            # land exactly on the next hour edge
            nxt = (prev + timedelta(hours=1)).replace(
                minute=0, second=0, microsecond=0
            )
            step = nxt - prev
        elif g < 0.36:
            # land exactly on the next midnight (retention day edge)
            nxt = (prev + timedelta(days=1)).replace(
                hour=0, minute=0, second=0, microsecond=0
            )
            step = nxt - prev
        else:
            step = timedelta(seconds=rng.randint(1, 4000),
                             microseconds=rng.randint(0, 999999))
        ts = prev + step
        cur[u if u is not None else -1] = ts
        if rng.random() < 0.015:
            ts = None  # sparse NULL ts rows (r9: asof/window NULL arms)
        v = rng.random()
        if v < 0.05:
            value = None
        elif v < 0.12:
            value = 0.0
        elif v < 0.2:
            value = -rng.randint(1, 500) / 100.0
        elif v < 0.25:
            value = 1e9 + rng.randint(0, 999) / 7.0
        else:
            value = rng.randint(0, 30000) / 100.0
        # sparse NULL event_type rows (r10 ADVICE: the NULL-vertex arm
        # of the transition-graph queries was never actually replayed)
        etype = None if rng.random() < 0.02 else rng.choice(EVENT_TYPES)
        rows.append((i, ts, u, etype, value, rng.choice(PROPS)))
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )


def make_lineitem(rng: random.Random, n: int):
    """Adversarial lineitem: heavy exact TIES in quantity and price
    (percentile interpolation between equal values, winsorize cut
    points, top-k mean tie-breaks), zero quantities/prices/discounts,
    ship dates exactly AT the pricing-summary cutoff midnight, and
    foreign keys sampled from the REAL sibling tables so the join
    queries still match rows. Money stays 2-decimal — TPC-H money is
    2-decimal BY CONTRACT, and the decimal-cast convention for
    arbitrary doubles is exercised by the events tier instead."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def keys(table: str, col: str) -> list[int]:
        return (
            pq.read_table(f"{BASE_SF}/{table}.parquet", columns=[col])
            .column(col)
            .to_pylist()
        )

    okeys = keys("orders", "o_orderkey")
    pkeys = keys("part", "p_partkey")
    skeys = keys("supplier", "s_suppkey")
    cutoff = datetime(1998, 9, 2)  # TPC-H Q1 boundary
    rows = []
    for i in range(n):
        q = rng.random()
        if q < 0.3:
            qty = 25.0  # the tie block
        elif q < 0.36:
            qty = 0.0
        else:
            qty = rng.randint(1, 50) * 1.0
        p = rng.random()
        if p < 0.3:
            price = 10000.00  # tie block
        elif p < 0.35:
            price = 0.0
        elif p < 0.38:
            # r12: sparse NEGATIVE money (returns/credits) — hits the
            # sig-floor negative branch (floor toward -inf + decade
            # crossings) and signed percentile/winsorize selection
            price = -rng.randint(100, 999999) / 100.0
        else:
            price = rng.randint(100, 9999999) / 100.0
        d = rng.random()
        if d < 0.4:
            ship = cutoff  # exactly at the cutoff midnight
        elif d < 0.5:
            ship = cutoff + timedelta(days=rng.choice([-1, 1]))
        else:
            ship = datetime(1995, 1, 1) + timedelta(
                days=rng.randint(0, 2000), seconds=rng.randint(0, 86399)
            )
        rows.append(
            (
                rng.choice(okeys),
                rng.choice(pkeys),
                rng.choice(skeys),
                rng.randint(1, 7),
                qty,
                price,
                rng.choice([0.0, 0.0, 0.01, 0.05, 0.1]),
                rng.choice([0.0, 0.02, 0.08]),
                # sparse NULL group keys (r11 mixed-NULL arm — TPC-H
                # says NOT NULL, but the grouped stats operators carry
                # a NULL-group contract and this pins its parity)
                None if rng.random() < 0.01 else rng.choice(["A", "N", "R"]),
                None if rng.random() < 0.01 else rng.choice(["F", "O"]),
                ship,
            )
        )
    cols = list(zip(*rows))
    return pa.table(
        {
            "l_orderkey": pa.array(cols[0], pa.int64()),
            "l_partkey": pa.array(cols[1], pa.int64()),
            "l_suppkey": pa.array(cols[2], pa.int64()),
            "l_linenumber": pa.array(cols[3], pa.int32()),
            "l_quantity": pa.array(cols[4], pa.float64()),
            "l_extendedprice": pa.array(cols[5], pa.float64()),
            "l_discount": pa.array(cols[6], pa.float64()),
            "l_tax": pa.array(cols[7], pa.float64()),
            "l_returnflag": pa.array(cols[8], pa.string()),
            "l_linestatus": pa.array(cols[9], pa.string()),
            "l_shipdate": pa.array(cols[10], pa.timestamp("us")),
        }
    )


def make_embeddings(rng: random.Random, n: int):
    """Adversarial embeddings (float32, dim 64): EXACT duplicate
    clusters (cosine/ADC ties resolved only by the explicit id
    tie-break), a zero vector (norm guard), negated copies (cosine
    -1), a huge-magnitude vector, and sparse NULL labels (null-safe
    kNN vote). Exact ties are portable — both engines see bit-equal
    scores and the (score, id) ordering decides; NEAR-ties (the ulp
    canary's subject) are not generated."""
    import numpy as np
    import pyarrow as pa

    dim = 64
    rng_np = np.random.RandomState(rng.randint(0, 2**31 - 1))
    base = rng_np.randn(n, dim).astype(np.float32)
    # special rows are clamped to n so tiny-n runs (the r9 small-n
    # tier that caught the zero-variance corr divergence) still build
    if n > 2:
        # duplicate cluster: ids 2..11 share id 2's vector
        for i in range(3, min(12, n)):
            base[i] = base[2]
    if n > 1:
        base[1] = 0.0  # zero vector in the corpus
    if n > 13:
        base[13] = -base[2]  # exact negation
    # Huge magnitude, same direction, scaled so the largest |component|
    # is exactly 300: extreme for an embedding but inside the kmeans
    # long-grid input contract (clustering.py _int_dot: dim 64 ->
    # max|x| ~ 380). A flat x300 factor is not: a randn component
    # near 3.4 reaches ~1015. Magnitude 1e6 correctly makes the grid
    # fold fail LOUDLY with ANSI long overflow (and exposed the fixed6
    # floor->long saturation, fixed in functions/numeric).
    if n > 14:
        scale = 300.0 / float(np.abs(base[2]).max())
        base[14] = (base[2].astype(np.float64) * scale).astype(np.float32)
    # make one QUERY row (vec_id 100) a member of the duplicate cluster
    if n > 100:
        base[100] = base[2]
    labels = []
    for i in range(n):
        labels.append(None if rng.random() < 0.05 else rng.randint(0, 4))
    return pa.table(
        {
            "vec_id": pa.array(list(range(n)), pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in row] for row in base],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


SEGMENTS = [
    "BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE",
    # collides with union_known_panel's literal 'known' row
    "LEGACY",
    # lowercase: hits scalar_function_parity's lower() IN enum branch
    "building",
]
PRIORITIES = [
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW",
    # off-domain: must fall outside the pinned pivot column list
    "9-WEIRD",
]
# part-name variants that must COLLIDE after normalize_compound_name
# (lower/trim, en/em-dash and minus -> '-', squeeze ws+hyphen,
# de-pluralize trailing 's' unless us/is/os/gas)
_PART_COLLIDERS = [
    "Steel Rod", "steel rods", "STEEL–ROD", "steel\trod",
    "  steel-rod  ", "steelrod", "steel—rods", "steel−rod",
]
# de-pluralization edge family: exceptions (us/is/os/gas), short
# strings (<=4 chars keep the 's'), and regular plurals
_PART_EDGE_NAMES = [
    "gas", "Gas", "GAS ", "bus", "axis", "chaos", "virus", "viruses",
    "lotus", "lotuses", "s", "ss", "sss", "glass", "glasses", "",
    "masses", "mass", "mas",
]
_SUPPLIER_SEEDS = ["acme metals", "zenith forge", "Supplier Prime Co"]


def _customer_name(rng: random.Random, i: int) -> str:
    r = rng.random()
    if r < 0.25:
        return f"Customer#{i:09d}"  # realistic: '#' split + digits + '0's
    if r < 0.30:
        return ""  # empty: locate/substr/extract zero paths
    if r < 0.36:
        return f"  {rng.choice(WORDS)} \t{rng.choice(WORDS)}  "  # outer ws
    if r < 0.46:
        # multiple digit runs, several '#', a guaranteed '0'
        return (f"{rng.choice(WORDS)}{rng.randint(0, 99)}"
                f"#{rng.choice(WORDS)}0{rng.randint(0, 9)}")
    if r < 0.52:
        return "no digits here"  # regexp_extract no-match -> ''
    if r < 0.57:
        return "Müller café #00"  # multibyte before substr/len
    if r < 0.62:
        return rng.choice(["ab", "aba", "abab"]) * rng.randint(1, 5)
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 4)))


def _acctbal(rng: random.Random):
    r = rng.random()
    if r < 0.03:
        return None  # NULL ordering / CASE fall-through
    if r < 0.18:
        return rng.choice([2500.0, 5000.0, 7500.0])  # exact >= thresholds
    if r < 0.24:
        return rng.choice([2499.99, 4999.99, 7499.99, 7500.01])
    if r < 0.40:
        return 1111.11  # heavy tie block: ntile/rank/percent_rank ties
    if r < 0.45:
        return 0.0
    if r < 0.50:
        return -rng.randint(1, 99999) / 100.0
    return rng.randint(-99999, 999999) / 100.0


def _supplier_name(rng: random.Random, i: int):
    r = rng.random()
    if r < 0.30:
        return f"Supplier#{i:08d}"  # shared boilerplate prefix stress
    if r < 0.60:
        # edit-cluster around a seed: dist 0/1/2 variants, case flips
        s = rng.choice(_SUPPLIER_SEEDS)
        v = rng.random()
        if v < 0.25:
            return s  # exact duplicate (dist 0 pair)
        if v < 0.45:
            k = rng.randrange(len(s))
            return s[:k] + rng.choice("xyq") + s[k + 1:]  # 1 substitution
        if v < 0.60:
            k = rng.randrange(len(s))
            return s[:k] + s[k + 1:]  # 1 deletion
        if v < 0.75:
            k = rng.randrange(len(s) + 1)
            return s[:k] + rng.choice("xyq") + s[k:]  # 1 insertion
        if v < 0.85:
            return s[0].swapcase() + s[1:]  # case flip = 1 edit
        k = rng.randrange(len(s) - 1)
        return s[:k] + "qq" + s[k + 2:]  # 2 substitutions (excluded)
    if r < 0.70:
        # short/low-gram fallback-bucket strings (lossless-block edge)
        return rng.choice(["", "a", "b", "ab", "ba", "ababab", "aabb"])
    if r < 0.72:
        return None  # dropped by BOTH engines
    return "supply " + " ".join(
        rng.choice(["north", "south", "iron", "grain", "x"])
        for _ in range(rng.randint(1, 3))
    )


def make_relational(rng: random.Random, n: int) -> dict:
    """Adversarial orders+customer+part+supplier+region (see scope
    notes on RELATIONAL_QUERIES). Orders: money exactly AT the bin edges
    (100k/200k right-closed, 400k strict >), constant-price blocks
    (segment-average boundary), midnight date ties inside customer
    windows, ~15% dangling custkeys. Customer: threshold-exact and
    heavily tied balances, hostile names, enum-colliding segments.
    Part: normalization-colliding name variants with (norm, price)
    ties. Supplier: edit-distance 0/1/2 name clusters + short-string
    fallback-bucket strings."""
    import pyarrow as pa

    n_cust = max(80, n // 5)
    n_part = max(80, n // 6)
    n_supp = max(60, n // 8)

    cust = []
    for i in range(1, n_cust + 1):
        cust.append((i, _customer_name(rng, i), rng.randint(0, 24),
                     _acctbal(rng), rng.choice(SEGMENTS)))

    parts = []
    for i in range(1, n_part + 1):
        r = rng.random()
        if r < 0.30:
            name = rng.choice(_PART_COLLIDERS)
        elif r < 0.45:
            name = rng.choice(_PART_EDGE_NAMES)
        else:
            name = " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 3)))
        p = rng.random()
        if p < 0.40:
            price = 500.00  # (norm, price) full ties -> partkey tie-break
        else:
            price = rng.randint(100, 200000) / 100.0
        parts.append((i, name, f"Brand#{rng.randint(1, 3)}{rng.randint(1, 3)}",
                      rng.choice(["STANDARD", "SMALL", "ECONOMY"]),
                      rng.randint(1, 50), price))

    supp = []
    for i in range(1, n_supp + 1):
        supp.append((i, _supplier_name(rng, i), rng.randint(0, 24),
                     rng.randint(-9999, 999999) / 100.0))

    # region: exact-match, lower-match, case-variant and unmatched
    # names against two_tier_lookup's pinned (AFRICA/america/ASIA)
    # lookup panel — exercises every tier of the fallback join
    regions = [
        (0, "AFRICA"), (1, "america"), (2, "ASIA"), (3, "AMERICA"),
        (4, "AfRiCa"), (5, "asia"), (6, "EUROPE"), (7, "ASIA "),
    ]

    base = datetime(1995, 1, 1)
    orders = []
    for i in range(1, n + 1):
        ck = (rng.randint(1, n_cust) if rng.random() < 0.85
              else n_cust + rng.randint(1, 50))  # dangling FK
        if rng.random() < 0.02:
            # sparse NULL FK (r10): one NULL in a bare SQL NOT IN list
            # empties the whole anti-join result while Spark's
            # left_anti shrugs — customers_without_orders now filters
            # NULL keys explicitly on both sides; this arm replays it
            ck = None
        r = rng.random()
        if r < 0.08:
            price = 100000.00  # right-closed bin edge (<=)
        elif r < 0.14:
            price = 200000.00
        elif r < 0.24:
            price = 400000.00  # bin edge AND rollup's strict >
        elif r < 0.28:
            price = 400000.01
        elif r < 0.32:
            price = 0.0
        elif r < 0.42:
            price = 123456.78  # constant block: segment-avg boundary
        else:
            price = rng.randint(100, 60000000) / 100.0
        if rng.random() < 0.5:
            od = base + timedelta(days=rng.randint(0, 1500))  # midnight tie
        else:
            od = base + timedelta(days=rng.randint(0, 1500),
                                  seconds=rng.randint(0, 86399),
                                  microseconds=rng.randint(0, 999999))
        orders.append((i, ck, rng.choice(["O", "O", "F", "F", "P"]),
                       price, od, rng.choice(PRIORITIES)))

    oc, cc, pc, sc = (list(zip(*t)) for t in (orders, cust, parts, supp))
    return {
        "orders": pa.table({
            "o_orderkey": pa.array(oc[0], pa.int64()),
            "o_custkey": pa.array(oc[1], pa.int64()),
            "o_orderstatus": pa.array(oc[2], pa.string()),
            "o_totalprice": pa.array(oc[3], pa.float64()),
            "o_orderdate": pa.array(oc[4], pa.timestamp("us")),
            "o_orderpriority": pa.array(oc[5], pa.string()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(cc[0], pa.int64()),
            "c_name": pa.array(cc[1], pa.string()),
            "c_nationkey": pa.array(cc[2], pa.int32()),
            "c_acctbal": pa.array(cc[3], pa.float64()),
            "c_mktsegment": pa.array(cc[4], pa.string()),
        }),
        "part": pa.table({
            "p_partkey": pa.array(pc[0], pa.int64()),
            "p_name": pa.array(pc[1], pa.string()),
            "p_brand": pa.array(pc[2], pa.string()),
            "p_type": pa.array(pc[3], pa.string()),
            "p_size": pa.array(pc[4], pa.int32()),
            "p_retailprice": pa.array(pc[5], pa.float64()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(sc[0], pa.int64()),
            "s_name": pa.array(sc[1], pa.string()),
            "s_nationkey": pa.array(sc[2], pa.int32()),
            "s_acctbal": pa.array(sc[3], pa.float64()),
        }),
        "region": pa.table({
            "r_regionkey": pa.array([r[0] for r in regions], pa.int32()),
            "r_name": pa.array([r[1] for r in regions], pa.string()),
        }),
    }


# tier -> (table(s) label, builder, queries, default_n); a builder may
# return a dict {table: pyarrow table} to regenerate several at once
TIERS = {
    "docs": ("documents", make_documents, DOCS_QUERIES, 1500),
    "events": ("events", make_events, EVENTS_QUERIES, 1500),
    "lineitem": ("lineitem", make_lineitem, LINEITEM_QUERIES, 3000),
    "embeddings": ("embeddings", make_embeddings, EMB_QUERIES, 600),
    "relational": ("orders+customer+part+supplier", make_relational,
                   RELATIONAL_QUERIES, 2500),
}


# ---------------------------------------------------------------- schema
# Chaos tier (VERDICT r8 ask #6): the driver regenerates testdata
# between rounds, and schema drift has shipped before (events.ts as
# INT64 TIMESTAMP(NANOS) in early rounds, native timestamp[us] now —
# pinned by tests/test_catalog_schema.py). This tier REHEARSES that
# drift instead of discovering it at the driver: each variant mutates
# one table into a historically-shipped alternate form, an all-NULL
# degenerate, or an empty-but-typed file, then replays the full
# oracle gate for every query driven by that table.


def _empty_like(tbl):
    """Zero-row table with the same schema."""
    return tbl.schema.empty_table()


def _events_ns(rng: random.Random, n: int):
    """The historical INT64 TIMESTAMP(NANOS) form of events.ts: the
    same adversarial rows, ts stored as timestamp[ns] (parquet
    TIMESTAMP(NANOS) — Spark reads it as long under nanosAsLong=true
    and load_table's type-conditional repair rebuilds the timestamp;
    DuckDB reads TIMESTAMP_NS natively)."""
    import pyarrow as pa

    tbl = make_events(rng, n)
    i = tbl.schema.get_field_index("ts")
    return tbl.set_column(i, "ts", tbl.column("ts").cast(pa.timestamp("ns")))


def _events_allnull(rng: random.Random, n: int):
    """Every nullable events column all-NULL at once (ts, user_id,
    event_type, value, props): timeline queries must degenerate to the
    same empty or NULL-keyed result on both engines (event_type joined
    the set in r10 — the graph queries' NULL-vertex arm)."""
    import pyarrow as pa

    tbl = make_events(rng, n)
    nulls = {
        "ts": pa.timestamp("us"),
        "user_id": pa.int64(),
        "event_type": pa.string(),
        "value": pa.float64(),
        "props": pa.string(),
    }
    for name, typ in nulls.items():
        i = tbl.schema.get_field_index(name)
        tbl = tbl.set_column(i, name, pa.nulls(tbl.num_rows, typ))
    return tbl


def _docs_allnull(rng: random.Random, n: int):
    """documents with all-NULL text/lang/source/n_chars — the
    regeneration-drift worst case for every text operator (doc_id
    stays, so id-driven queries still have rows)."""
    import pyarrow as pa

    tbl = make_documents(rng, n)
    nulls = {
        "text": pa.string(),
        "lang": pa.string(),
        "source": pa.string(),
        "n_chars": pa.int64(),
    }
    for name, typ in nulls.items():
        i = tbl.schema.get_field_index(name)
        tbl = tbl.set_column(i, name, pa.nulls(tbl.num_rows, typ))
    return tbl


# variant name -> (table(s) replaced, builder, query set, default n)
SCHEMA_VARIANTS = {
    "events_ns": ("events", _events_ns, EVENTS_QUERIES, 400),
    "events_allnull": ("events", _events_allnull, EVENTS_QUERIES, 400),
    "events_empty": ("events", lambda rng, n: _empty_like(make_events(rng, 8)),
                     EVENTS_QUERIES, 0),
    "docs_allnull": ("documents", _docs_allnull, DOCS_QUERIES, 300),
    "docs_empty": ("documents",
                   lambda rng, n: _empty_like(make_documents(rng, 8)),
                   DOCS_QUERIES, 0),
    "embeddings_empty": ("embeddings",
                         lambda rng, n: _empty_like(make_embeddings(rng, 32)),
                         EMB_QUERIES, 0),
    "embeddings_allnull": ("embeddings", lambda rng, n: _emb_allnull(rng, n),
                           EMB_QUERIES, 200),
    "lineitem_empty": ("lineitem",
                       lambda rng, n: _empty_like(make_lineitem(rng, 64)),
                       LINEITEM_QUERIES, 0),
    "orders_nullfk": ("orders", lambda rng, n: _orders_nullfk(rng, n),
                      RELATIONAL_QUERIES, 400),
    # r10 constant-content variants: unique keys, every value column
    # identical — the zero-variance / one-distinct-value arm at scale
    "docs_constant": ("documents",
                      lambda rng, n: _constant_like(
                          make_documents(rng, n), ("doc_id",)),
                      DOCS_QUERIES, 300),
    "events_constant": ("events",
                        lambda rng, n: _constant_like(
                            make_events(rng, n), ("event_id",)),
                        EVENTS_QUERIES, 400),
    "embeddings_constant": ("embeddings",
                            lambda rng, n: _constant_like(
                                make_embeddings(rng, n), ("vec_id",)),
                            EMB_QUERIES, 200),
    # r12: many-labels arm — label domain ~ row count (label = vec_id
    # % 97 over n=200 rows → ~97 labels, most singleton): stresses the
    # centroid family's n_labels dimension (n_labels² confusion grid,
    # pairwise centroid matrix, per-label outlier windows) and every
    # other per-label grouping at maximal group cardinality
    "embeddings_manylabels": ("embeddings",
                              lambda rng, n: _emb_manylabels(rng, n),
                              EMB_QUERIES, 200),
    "lineitem_constant": ("lineitem",
                          lambda rng, n: _constant_like(
                              make_lineitem(rng, n), ("l_orderkey",)),
                          LINEITEM_QUERIES, 400),
    "relational_constant": ("orders+customer+part+supplier",
                            lambda rng, n: {
                                t: _constant_like(tb, (
                                    "o_orderkey", "c_custkey",
                                    "p_partkey", "s_suppkey",
                                    "r_regionkey", "r_name"))
                                for t, tb in make_relational(rng, n).items()
                            },
                            RELATIONAL_QUERIES, 400),
    "relational_empty": ("orders+customer+part+supplier",
                         lambda rng, n: {
                             t: _empty_like(tb)
                             for t, tb in make_relational(rng, 64).items()
                             # region stays populated: it is the tiny
                             # always-present dimension in real data
                             if t != "region"
                         } | {"region": make_relational(rng, 64)["region"]},
                         RELATIONAL_QUERIES, 0),
}


def _constant_like(tbl, key_cols=()):
    """Every non-key column overwritten with its row-0 value (keys
    keep their generated uniqueness): the single-distinct-value /
    zero-variance arm at scale — ECDFs with one jump, all-tie ranks,
    zero covariance, single-vertex graphs (r10; the n=1 frontier's
    sibling along the cardinality axis instead of the row axis)."""
    import pyarrow as pa

    if tbl.num_rows == 0:
        return tbl
    out = tbl
    for name in tbl.schema.names:
        if name in key_cols:
            continue
        i = tbl.schema.get_field_index(name)
        first = tbl.column(name)[0].as_py()
        out = out.set_column(
            i, name,
            pa.array([first] * tbl.num_rows, tbl.schema.field(name).type),
        )
    return out


def _orders_nullfk(rng: random.Random, n: int):
    """Orders with o_custkey ALL-NULL (r10): the degenerate arm of the
    NULL-FK class — one NULL in a bare SQL NOT IN list empties the
    whole anti-join result while Spark's left_anti is unaffected;
    every custkey join/group/window must degrade identically."""
    import pyarrow as pa

    tbl = make_relational(rng, max(n, 64))["orders"]
    i = tbl.schema.get_field_index("o_custkey")
    return tbl.set_column(i, "o_custkey", pa.nulls(tbl.num_rows, pa.int64()))


def _emb_allnull(rng: random.Random, n: int):
    """Embeddings with every nullable column NULL (embedding, label):
    vector ops must degrade to empty/NULL-safe results identically."""
    import pyarrow as pa

    tbl = make_embeddings(rng, n)
    for name in ("embedding", "label"):
        i = tbl.schema.get_field_index(name)
        tbl = tbl.set_column(
            i, name, pa.nulls(tbl.num_rows, tbl.schema.field(name).type)
        )
    return tbl


def _emb_manylabels(rng: random.Random, n: int):
    """Embeddings whose label domain scales with row count (vec_id %
    97, int32): ~min(n, 97) labels, mostly singleton groups — the
    maximal-group-cardinality arm for every per-label operator
    (centroid matrix n_labels², confusion grid, per-label windows)."""
    import pyarrow as pa

    tbl = make_embeddings(rng, n)
    i = tbl.schema.get_field_index("label")
    labels = pa.array(
        [int(v) % 97 for v in range(tbl.num_rows)], pa.int32()
    )
    return tbl.set_column(i, "label", labels)


def _run_built(spark, built, table, queries) -> tuple[int, int]:
    import pyarrow.parquet as pq

    from verify_local import TABLES, run_gate

    tmp = Path(tempfile.mkdtemp(prefix="fuzz_gate_"))
    try:
        if not isinstance(built, dict):
            built = {table: built}
        for t in TABLES:
            if t not in built:
                shutil.copy(f"{BASE_SF}/{t}.parquet", tmp / f"{t}.parquet")
        for t, tb in built.items():
            pq.write_table(tb, tmp / f"{t}.parquet")
        return run_gate(spark, str(tmp), queries)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_tier(spark, rng: random.Random, tier: str, n: int) -> tuple[int, int]:
    table, builder, queries, _n0 = TIERS[tier]
    return _run_built(spark, builder(rng, n), table, queries)


def run_schema_tier(spark, seed: int) -> tuple[int, int]:
    """Run every schema-drift variant; n_rows is per-variant (the
    empty variants ignore it by construction)."""
    tp = tf = 0
    for name, (table, builder, queries, vn) in SCHEMA_VARIANTS.items():
        p, f = _run_built(spark, builder(random.Random(seed), vn), table, queries)
        print(f"  schema variant {name}: {p} passed, {f} failed")
        tp, tf = tp + p, tf + f
    return tp, tf


def main() -> int:
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 0  # 0 = per-tier default
    tier = sys.argv[3] if len(sys.argv) > 3 else "docs"
    tiers = list(TIERS) if tier == "all" else [tier]
    if any(t not in TIERS and t != "schema" for t in tiers):
        print(f"unknown tier {tier!r}; choose from "
              f"{sorted(TIERS) + ['schema']} or 'all'")
        return 2

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .appName("fuzz_gate")
        .getOrCreate()
    )
    rc = 0
    for t in tiers:
        if t == "schema":
            n_pass, n_fail = run_schema_tier(spark, seed)
            print(f"fuzz_gate tier=schema seed={seed}: "
                  f"{n_pass} passed, {n_fail} failed")
        else:
            nt = n or TIERS[t][3]
            n_pass, n_fail = run_tier(spark, random.Random(seed), t, nt)
            print(f"fuzz_gate tier={t} seed={seed} n={nt}: "
                  f"{n_pass} passed, {n_fail} failed")
        rc = rc or (1 if n_fail else 0)
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
