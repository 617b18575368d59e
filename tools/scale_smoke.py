"""Empirical scaling smoke: replicate the sf0.1 documents table Nx
(distinct ids, shingle distribution preserved) and time the dedup +
round-2 tiers. A near-linear fit validates the O(n)/O(n·bands)
claims; the pairwise tiers bend quadratic in the join-pair term —
and NOTE that replication is the pathological near-dup case for
`dup_spans` (every window's document frequency scales with the
factor, so Σ df² grows ~factor² until the `max_window_docs` cap
bites: the factor-4 bend is the corpus, not the plan; real corpora
have percent-level dup density). Usage:
python tools/scale_smoke.py [factors...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from aurora_mito_etl_spark.operators import bloom as bl
from aurora_mito_etl_spark.operators import bpe
from aurora_mito_etl_spark.operators import text as tx
from aurora_mito_etl_spark.operators import clustering as cl
from aurora_mito_etl_spark.operators import decontaminate as dc
from aurora_mito_etl_spark.operators import quantize as qz
from aurora_mito_etl_spark.operators import textstats as tst
from aurora_mito_etl_spark.operators import tfidf as tfi
from aurora_mito_etl_spark.operators import dedup as dd
from aurora_mito_etl_spark.operators import quality as ql
from aurora_mito_etl_spark.session import get_spark
from aurora_mito_etl_spark.sources.catalog import load_table


def replicate_embeddings(df, times: int):
    """times x copies of the embeddings table with distinct vec_ids;
    vectors unchanged (the ADC/KMeans cost is per-row arithmetic —
    duplicate values don't change the plan's work)."""
    n = df.agg(F.max("vec_id")).collect()[0][0] + 1
    out = None
    for i in range(times):
        c = df.select(
            (F.col("vec_id") + i * n).alias("vec_id"), "embedding"
        )
        out = c if out is None else out.unionByName(c)
    return out


def replicate(df, times: int):
    """times x copies with distinct doc_ids and slightly perturbed text
    (copy index appended to ~1/4 of docs so replicas are not all
    exact dups)."""
    out = None
    # id offset derived from the data — a hardcoded stride would
    # collide once max(doc_id) exceeds it
    n = df.agg(F.max("doc_id")).collect()[0][0] + 1
    for i in range(times):
        c = df.select(
            (F.col("doc_id") + i * n).alias("doc_id"),
            F.when(
                (F.col("doc_id") % 4 == 0) & (F.lit(i) > 0),
                F.concat(F.col("text"), F.lit(f" copymark{i}")),
            ).otherwise(F.col("text")).alias("text"),
        )
        out = c if out is None else out.unionByName(c)
    return out


def _megagroup_tier(li_base, n_ord, factors) -> None:
    """Round-12 tier: grouped quantiles under the ADVERSARIAL
    mega-group shape the dist variant exists for — ONE group holding
    ~90% of rows with near-unique continuous values (orderkey-jittered
    prices make the (group, distinct-value) grid track row count). The
    window sibling frames that group's whole domain in one task; the
    dist plan must stay ~linear with no single-task stage. Both are
    timed so the crossover is visible in the artifact."""
    from aurora_mito_etl_spark.operators import quantiles as qtl

    for f in factors:
        li = None
        for i in range(f):
            c = li_base.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(i * n_ord)
            )
            li = c if li is None else li.unionByName(c)
        # ~90% of rows collapse into one mega group; jitter the value
        # by the (near-unique) orderkey so values are near-unique
        li = li.select(
            F.when(F.col("l_linenumber") <= 6, F.lit("MEGA"))
            .otherwise(F.col("l_returnflag"))
            .alias("g"),
            (
                F.col("l_extendedprice")
                + (F.col("l_orderkey") % 997).cast("double") / 1000.0
            ).alias("x"),
        ).repartition(32).cache()
        nli = li.count()
        t0 = time.perf_counter()
        qtl.grouped_exact_quantiles_dist(li, "g", "x").write.format(
            "noop"
        ).mode("overwrite").save()
        dist_t = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        qtl.grouped_exact_quantiles(li, "g", "x").write.format(
            "noop"
        ).mode("overwrite").save()
        win_t = round(time.perf_counter() - t0, 2)
        li.unpersist()
        print(json.dumps({
            "megagroup_factor": f, "rows": nli,
            "grouped_quantiles_dist": dist_t,
            "grouped_quantiles_window": win_t,
        }))


def main() -> int:
    factors = [int(a) for a in sys.argv[1:]] or [1, 2, 4, 8]
    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    if os.environ.get("SCALE_SMOKE_ONLY") == "megagroup":
        lib = load_table(spark, "/root/testdata/sf0.1", "lineitem")
        mx = (lib.agg(F.max("l_orderkey")).collect()[0][0] or 0) + 1
        _megagroup_tier(lib, mx, factors)
        spark.stop()
        return 0
    if os.environ.get("SCALE_SMOKE_ONLY") == "r12b":
        # Just the r12 session-2 newcomers (the full tiers already
        # have committed curves this round): LSH signature audit on
        # the docs tier, label-centroid geometry on the emb tier.
        from aurora_mito_etl_spark.operators import similarity as sim

        dbase = load_table(spark, "/root/testdata/sf0.1", "documents").select(
            "doc_id", "text"
        )
        ebase = load_table(spark, "/root/testdata/sf0.1", "embeddings").select(
            "vec_id", "embedding"
        )
        from aurora_mito_etl_spark.operators.rownum import grouped_prefix_sum

        for f in factors:
            df = replicate(dbase, f).repartition(32).cache()
            n = df.count()
            t0 = time.perf_counter()
            dd.minhash_est_audit(
                df, "text", "doc_id", num_hashes=16, bands=4, threshold=0.3
            ).write.format("noop").mode("overwrite").save()
            audit = round(time.perf_counter() - t0, 2)
            # Heaps-fit SHAPE on the replicated corpus (synthetic
            # source: replicate() drops the column): first-occurrence
            # aggregate + two grouped_prefix_sum passes + the OLS agg
            # — must stay ~linear in corpus rows.
            dsrc = df.withColumn(
                "source", (F.col("doc_id") % 7).cast("string")
            )
            words = dsrc.select(
                "source", "doc_id",
                F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
            ).filter(F.col("w") != "")
            tokcnt = words.groupBy("source", "doc_id").agg(
                F.count("*").cast("long").alias("toks")
            )
            newt = (
                words.groupBy("source", "w")
                .agg(F.min("doc_id").alias("fd"))
                .groupBy("source", "fd")
                .agg(F.count("*").cast("long").alias("nt"))
                .withColumnRenamed("fd", "doc_id")
            )
            perdoc = (
                dsrc.select("source", "doc_id")
                .join(tokcnt, ["source", "doc_id"], "left")
                .join(newt, ["source", "doc_id"], "left")
                .select(
                    "source", "doc_id",
                    F.coalesce("toks", F.lit(0).cast("long")).alias("toks"),
                    F.coalesce("nt", F.lit(0).cast("long")).alias("nt"),
                )
            )
            t0 = time.perf_counter()
            c = grouped_prefix_sum(perdoc, "source", "doc_id", "toks", "ct")
            c = grouped_prefix_sum(c, "source", "doc_id", "nt", "cy")
            c.groupBy("source").agg(
                F.count("*"), F.max("ct"), F.max("cy")
            ).write.format("noop").mode("overwrite").save()
            heaps = round(time.perf_counter() - t0, 2)
            df.unpersist()
            emb = replicate_embeddings(ebase, f).repartition(32).cache()
            vn = emb.count()
            t0 = time.perf_counter()
            sim.label_centroid_cosines(
                emb.withColumn("label", (F.col("vec_id") % 5).cast("int")),
                "embedding", "label", dim=64,
            ).write.format("noop").mode("overwrite").save()
            cen = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            sim.label_outlier_topk(
                emb.withColumn("label", (F.col("vec_id") % 5).cast("int")),
                "embedding", "vec_id", "label", k=5, dim=64,
            ).write.format("noop").mode("overwrite").save()
            outl = round(time.perf_counter() - t0, 2)
            t0 = time.perf_counter()
            sim.centroid_confusion(
                emb.withColumn("label", (F.col("vec_id") % 5).cast("int")),
                "embedding", "vec_id", "label", dim=64,
            ).write.format("noop").mode("overwrite").save()
            conf = round(time.perf_counter() - t0, 2)
            emb.unpersist()
            print(json.dumps({
                # tier-distinct key: the main dedup tier also prints
                # "factor", and the committed artifact groups lines by
                # this key — a bare "factor" here would be
                # indistinguishable (r12 session-2 review finding)
                "r12b_factor": f, "rows": n, "minhash_audit": audit,
                "heaps_cumulatives": heaps,
                "vec_rows": vn, "label_centroids": cen,
                "label_outliers": outl, "centroid_confusion": conf,
            }))
        spark.stop()
        return 0
    base = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    results = {}
    for f in factors:
        df = replicate(base, f).repartition(32).cache()
        n = df.count()  # materialize the cache
        t = {}
        t0 = time.perf_counter()
        dd.exact_dedup(df, "text", "doc_id").write.format("noop").mode(
            "overwrite"
        ).save()
        t["exact"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        dd.minhash_lsh_pairs(
            df, "text", "doc_id", num_hashes=16, bands=4, threshold=0.3
        ).write.format("noop").mode("overwrite").save()
        t["minhash_lsh"] = round(time.perf_counter() - t0, 2)
        # r12 session-2 tier: signature-accuracy audit — same banded
        # chain as the pairs query plus two keyed sig joins and a
        # 17-row aggregate; the curve must track minhash_lsh's shape
        # (the audit adds no new asymptote).
        t0 = time.perf_counter()
        dd.minhash_est_audit(
            df, "text", "doc_id", num_hashes=16, bands=4, threshold=0.3
        ).write.format("noop").mode("overwrite").save()
        t["minhash_audit"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        dd.simhash_pairs(df, "text", "doc_id", max_hamming=8).write.format(
            "noop"
        ).mode("overwrite").save()
        t["simhash"] = round(time.perf_counter() - t0, 2)
        # round-2 tier: quality battery (scan-speed claim), broadcast
        # decontamination probe, duplicate spans (hot-window capped so
        # the replicated boilerplate doesn't go quadratic by design)
        t0 = time.perf_counter()
        ql.gopher_signals(df).write.format("noop").mode("overwrite").save()
        t["gopher"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        dc.ngram_contamination(
            df, df.filter(F.col("doc_id") < 5), n=4
        ).write.format("noop").mode("overwrite").save()
        t["decontaminate"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        dd.duplicate_spans(
            df, "text", "doc_id", k=3, min_span_tokens=5, max_window_docs=64
        ).write.format("noop").mode("overwrite").save()
        t["dup_spans"] = round(time.perf_counter() - t0, 2)
        # round-5 tier: Bloom decontamination (probe-side scaling) and
        # TF-IDF neighbor search (inverted-index join; the replicated
        # corpus multiplies both postings sides, so pair contributions
        # bend ~factor² on shared-vocabulary data — the df cap is what
        # keeps the constant sane, not the asymptote)
        t0 = time.perf_counter()
        bl.ngram_contamination_bloom(
            df, df.filter(F.col("doc_id") % 97 == 0), n=4
        ).write.format("noop").mode("overwrite").save()
        t["bloom_decontaminate"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        tfi.tfidf_topk(df, k=3, max_df_frac=0.1).write.format("noop").mode(
            "overwrite"
        ).save()
        t["tfidf_topk"] = round(time.perf_counter() - t0, 2)
        # Round-8 tier: corpus-wide line dedup (join-free min-struct
        # survivor selection — must scale linearly in total line
        # count) and BPE training (vocab-bound after the single
        # word_freqs pass: replication grows the corpus 8x but the
        # vocabulary barely moves, so the 6 merge rounds should stay
        # ~flat — the point of training on the aggregate).
        t0 = time.perf_counter()
        tx.dedup_lines_across_docs(df, "text", "doc_id").write.format(
            "noop"
        ).mode("overwrite").save()
        t["line_dedup_global"] = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        bpe.bpe_train(df, "text", num_merges=6).write.format("noop").mode(
            "overwrite"
        ).save()
        t["bpe_train"] = round(time.perf_counter() - t0, 2)
        # Late-r8 tier: Misra-Gries heavy hitters — two linear corpus
        # passes (candidate sketch + bounded recount); replication
        # multiplies every count by the factor so the n/(c+1)
        # guarantee holds at every step and runtime must stay ~linear.
        t0 = time.perf_counter()
        tst.heavy_hitter_tokens(df, "text").write.format("noop").mode(
            "overwrite"
        ).save()
        t["heavy_hitters"] = round(time.perf_counter() - t0, 2)
        df.unpersist()
        results[f] = {"rows": n, **t}
        print(json.dumps({"factor": f, **results[f]}))

    # Round-6 tier: PQ-ADC search (two-phase top-k — the corpus-side
    # scan must scale linearly now that no single-partition sort of
    # the scored table remains) and KMeans assignment (one shuffle per
    # Lloyd round, centroid state k x dim).
    emb_base = load_table(spark, "/root/testdata/sf0.1", "embeddings").select(
        "vec_id", "embedding"
    )
    for f in factors:
        emb = replicate_embeddings(emb_base, f).repartition(32).cache()
        n = emb.count()
        queries = emb_base.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        t0 = time.perf_counter()
        qz.pq_adc_topk(emb, queries, dim=64, k=5).write.format("noop").mode(
            "overwrite"
        ).save()
        adc = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        from aurora_mito_etl_spark.functions.numeric import fixed6_py
        from aurora_mito_etl_spark.operators import similarity as sim

        init = [
            [fixed6_py(x) for x in c] for c in sim.ivf_centroids(16, 8, seed=7)
        ]
        cl.kmeans_assignments(emb, init, iterations=2).write.format(
            "noop"
        ).mode("overwrite").save()
        km = round(time.perf_counter() - t0, 2)
        # r12 session-2 tier: label-centroid geometry — one map-side
        # 65-column aggregate over the corpus then a fixed-size
        # self-join; the curve must be ~linear in corpus rows with a
        # constant pairwise tail. Replicated vec_ids keep their label
        # via vec_id % 5 (synthetic labels: the sf0.1 table's label
        # column is not replicated by replicate_embeddings).
        t0 = time.perf_counter()
        sim.label_centroid_cosines(
            emb.withColumn("label", (F.col("vec_id") % 5).cast("int")),
            "embedding", "label", dim=64,
        ).write.format("noop").mode("overwrite").save()
        cen = round(time.perf_counter() - t0, 2)
        emb.unpersist()
        print(
            json.dumps(
                {"emb_factor": f, "vec_rows": n, "pq_adc_topk": adc,
                 "kmeans_fit_assign": km, "label_centroids": cen}
            )
        )

    # Adversarial LSH skew tier: one text replicated factor*2000 times
    # lands every copy in the same (band, band-hash) buckets — the
    # uncapped candidate join would build (factor*2000)²/2 pairs in one
    # task. With max_bucket_size the hot bucket is dropped and the
    # stage stays bounded: the capped time must grow ~linearly with the
    # factor (signature computation), not quadratically.
    base_row = base.limit(1).collect()[0]
    for f in factors:
        m = f * 2000
        skew = spark.range(m).select(
            F.col("id").alias("doc_id"), F.lit(base_row["text"]).alias("text")
        ).unionByName(
            base.limit(500).select((F.col("doc_id") + m).alias("doc_id"), "text")
        ).repartition(32).cache()
        skew.count()
        t0 = time.perf_counter()
        dd.minhash_lsh_pairs(
            skew, "text", "doc_id", num_hashes=16, bands=4, threshold=0.3,
            max_bucket_size=64,
        ).write.format("noop").mode("overwrite").save()
        capped = round(time.perf_counter() - t0, 2)
        skew.unpersist()
        print(json.dumps({"skew_factor": f, "hot_rows": m, "capped_lsh": capped}))

    # Round-9 tier (VERDICT r8 ask #4): the late-r8 retrieval/stats
    # shapes get the same measured-curve treatment as pagerank —
    # fixed-size repeats (median = attributable cost, spread = box
    # noise) plus factor scaling.
    #
    # - mmr: corpus scaling must be carried by the BM25/postings scan
    #   alone — the 20-candidate shortlist, 190-pair Jaccard grid and
    #   5 greedy rounds are corpus-size-independent by construction.
    # - ivfpq_rerank: ADC scan is linear in corpus rows; the exact
    #   re-rank touches only r_cand rows per query via broadcast ids
    #   (no corpus shuffle), so the curve must stay ~linear.
    # - profile: the unpivot + distinct-value-collapse shape must stay
    #   ~linear in row count — the naive multi-count-DISTINCT agg it
    #   replaced went SortAggregate-over-row-scale (21s vs 3.6s at
    #   sf0.1, r8; now a CLAUDE.md invariant).
    from aurora_mito_etl_spark.functions.numeric import fixed6_py
    from aurora_mito_etl_spark.operators import profile as pf
    from aurora_mito_etl_spark.operators import similarity as sim
    from aurora_mito_etl_spark.plans.queries import (
        _PROFILE_NUMERIC,
        _PROFILE_STRING,
        mmr_rerank_docs,
    )

    li_base = load_table(spark, "/root/testdata/sf0.1", "lineitem")

    def profile_shape(li):
        return pf.profile_table(
            li.withColumn(
                "l_shipdate_us",
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', l_shipdate)"
                ),
            ),
            _PROFILE_NUMERIC,
            _PROFILE_STRING,
        )

    def ivfpq_shape(emb, queries):
        return qz.ivfpq_rerank_topk(
            emb, queries, dim=64, m=4, n_centroids=16, k=5, r_cand=20,
            n_cells=16, n_probe=4,
            centroids=[[fixed6_py(x) for x in c]
                       for c in sim.ivf_centroids(64, 16)],
        )

    emb_q = emb_base.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    # fixed-size repeats at sf0.1
    for name, thunk in (
        ("mmr_rerank", lambda: mmr_rerank_docs(base)),
        ("ivfpq_rerank", lambda: ivfpq_shape(emb_base, emb_q)),
        ("lineitem_profile", lambda: profile_shape(li_base)),
    ):
        reps = []
        for _ in range(5):
            t0 = time.perf_counter()
            thunk().write.format("noop").mode("overwrite").save()
            reps.append(round(time.perf_counter() - t0, 2))
        med = sorted(reps)[len(reps) // 2]
        print(json.dumps({f"{name}_repeats": reps, f"{name}_median": med}))

    # factor scaling
    for f in factors:
        docs = replicate(base, f).repartition(32).cache()
        docs.count()
        t0 = time.perf_counter()
        mmr_rerank_docs(docs).write.format("noop").mode("overwrite").save()
        mmr_t = round(time.perf_counter() - t0, 2)
        docs.unpersist()

        emb = replicate_embeddings(emb_base, f).repartition(32).cache()
        emb.count()
        t0 = time.perf_counter()
        ivfpq_shape(emb, emb_q).write.format("noop").mode("overwrite").save()
        ivfpq_t = round(time.perf_counter() - t0, 2)
        emb.unpersist()

        n_ord = (li_base.agg(F.max("l_orderkey")).collect()[0][0] or 0) + 1
        li = None
        for i in range(f):
            c = li_base.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(i * n_ord)
            )
            li = c if li is None else li.unionByName(c)
        li = li.repartition(32).cache()
        nli = li.count()
        t0 = time.perf_counter()
        profile_shape(li).write.format("noop").mode("overwrite").save()
        prof_t = round(time.perf_counter() - t0, 2)
        li.unpersist()
        print(json.dumps({
            "r9_factor": f, "li_rows": nli, "mmr_rerank": mmr_t,
            "ivfpq_rerank": ivfpq_t, "lineitem_profile": prof_t,
        }))

    # Round-9 PCA tier: the covariance pass is ONE map-side-combinable
    # wide aggregate — its curve must stay ~linear in rows (scan-bound;
    # the d(d+1)/2-wide state is constant), and the PC1 projection is a
    # pure codegen scan, also ~linear. The fit itself is corpus-size-
    # independent (d×d driver state) by construction, so it runs once
    # on the base corpus and its component is reused across factors.
    from aurora_mito_etl_spark.operators import pca as pca_op

    emb_nn_base = emb_base.filter(F.col("embedding").isNotNull())
    comp16, means16 = pca_op.fit_pc1(
        pca_op.covariance_stats(emb_nn_base, 16).collect()[0], 16, iterations=3
    )
    for f in factors:
        emb = replicate_embeddings(emb_base, f).repartition(32).cache()
        ne = emb.count()
        nn = emb.filter(F.col("embedding").isNotNull())
        t0 = time.perf_counter()
        pca_op.covariance_entries(
            pca_op.covariance_stats(nn, 16), 16
        ).write.format("noop").mode("overwrite").save()
        cov_t = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        pca_op.project_component(nn, 16, comp16, means16).write.format(
            "noop"
        ).mode("overwrite").save()
        proj_t = round(time.perf_counter() - t0, 2)
        emb.unpersist()
        print(json.dumps({
            "pca_factor": f, "emb_rows": ne,
            "pca_cov": cov_t, "pca_project": proj_t,
        }))

    # Round-7 tier: PageRank steady-state (VERDICT r6 ask #8). The
    # interleaved bench drifted 3.1->4.6s on UNCHANGED graph.py across
    # rounds — this fixed-size repeat timing separates plan cost from
    # box noise: the repeats' MEDIAN is the attributable number; a
    # spread much wider than the median gap is the documented
    # transient-stall noise, not a regression. Uses the exact
    # events_pagerank shape (per-user transition edges, 6 rounds).
    from aurora_mito_etl_spark.operators import graph as gr
    from pyspark.sql import Window

    ev = load_table(spark, "/root/testdata/sf0.1", "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = ev.select(
        F.lag("event_type").over(w).alias("src"),
        F.col("event_type").alias("dst"),
    ).where(F.col("src").isNotNull()).cache()
    edges.count()
    reps = []
    for _ in range(5):
        t0 = time.perf_counter()
        gr.pagerank(edges, iterations=6).write.format("noop").mode(
            "overwrite"
        ).save()
        reps.append(round(time.perf_counter() - t0, 2))
    edges.unpersist()
    med = sorted(reps)[len(reps) // 2]
    print(json.dumps({"pagerank_repeats": reps, "pagerank_median": med}))

    # Round-10 tier (VERDICT r9 ask #5a): HITS fixed-size repeats —
    # same event-type-grain graph as pagerank (|V| ~ handful), but the
    # no-checkpoint linear-lineage chain + global-window sup-norm is a
    # different plan shape; the repeats' median is the attributable
    # cost. Edges filter NULL ts/event_type like the query (r10
    # NULL-vertex contract).
    edges = ev.filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    ).select(
        F.lag("event_type").over(w).alias("src"),
        F.col("event_type").alias("dst"),
    ).where(F.col("src").isNotNull()).cache()
    edges.count()
    reps = []
    for _ in range(5):
        t0 = time.perf_counter()
        gr.hits(edges, iterations=4).write.format("noop").mode(
            "overwrite"
        ).save()
        reps.append(round(time.perf_counter() - t0, 2))
    edges.unpersist()
    med = sorted(reps)[len(reps) // 2]
    print(json.dumps({"hits_repeats": reps, "hits_median": med}))

    # Round-10 tier (VERDICT r9 ask #5b): label propagation — the
    # bench suite's priciest entry. Replication is the ADVERSARIAL
    # direction: every replica is a near-dup of its original, so
    # duplicate components grow WITH the factor. The claims under
    # test: CC rounds grow O(log² n) (large-star/small-star), and the
    # vote/winner aggregations run on the component table — so the
    # factor curve must stay near-linear in pair count, not bend with
    # component size.
    for f in factors:
        docs = replicate(base, f).repartition(32).cache()
        nd = docs.count()
        seeded = docs.select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 != 0,
                F.concat(F.lit("l"), (F.col("doc_id") % 5).cast("string")),
            ).alias("seed"),
        )
        pairs = dd.ngram_jaccard_pairs(
            docs, "text", "doc_id", k=3, threshold=0.15
        )
        t0 = time.perf_counter()
        dd.label_spread(seeded, pairs, "doc_id", "seed").write.format(
            "noop"
        ).mode("overwrite").save()
        ls_t = round(time.perf_counter() - t0, 2)
        docs.unpersist()
        print(json.dumps({
            "label_spread_factor": f, "doc_rows": nd, "label_spread": ls_t,
        }))

    # Round-10 continuation tier: triangle census. Replication is
    # adversarial here too — replicas join their original's near-dup
    # clique, so clique size grows with f and the triangle COUNT
    # grows ~f^3 inside cliques. The claim under test is
    # output-optimality of the degree-ordered iterator: wall time
    # must track the (recorded) triangle count — wedge generation is
    # Theta(sum out_deg^2) ~ triangles inside cliques — not blow past
    # it, and must not collapse onto a single hot apex.
    for f in factors:
        docs = replicate(base, f).repartition(32).cache()
        nd = docs.count()
        pairs = dd.ngram_jaccard_pairs(
            docs, "text", "doc_id", k=3, threshold=0.15
        )
        t0 = time.perf_counter()
        out = gr.triangle_stats(pairs, "id_a", "id_b").agg(
            F.sum("n_triangles").alias("t3"), F.count("*").alias("verts")
        ).collect()[0]
        tri_t = round(time.perf_counter() - t0, 2)
        docs.unpersist()
        print(json.dumps({
            "triangles_factor": f, "doc_rows": nd,
            "n_triangles_x3": int(out["t3"] or 0),
            "graph_vertices": int(out["verts"] or 0),
            "triangles": tri_t,
        }))

    # Round-11 tier (VERDICT r10 ask #6): the r10-continuation
    # newcomers get measured curves.
    #
    # - funnel_windowed: three co-partitioned user-keyed aggregations
    #   (view anchor, in-window click, in-window purchase) — replicating
    #   events with DISTINCT user ids multiplies groups, not group
    #   size, so the curve must stay ~linear in event rows.
    # - benchmark_decontam: the probe panel is FIXED (base-corpus
    #   probes) while the corpus replicates — broadcast side constant,
    #   corpus streamed map-side, one aggregation: ~linear.
    # - jl_distortion: the r11 md5-ordered LIMIT-64 panel is fixed-size
    #   by construction (the point of the cap), so pair count is
    #   64·n and the curve must stay ~linear in corpus rows.
    from aurora_mito_etl_spark.functions.numeric import dec_avg, fixed6
    from aurora_mito_etl_spark.operators import rproj as rp
    from aurora_mito_etl_spark.plans.queries import _events_funnel_frame

    ev_base = ev.select("user_id", "event_type", "ts")
    n_users = (ev_base.agg(F.max("user_id")).collect()[0][0] or 0) + 1

    def decontam_shape(corpus, probes):
        v = sim.with_norm(corpus, "embedding", "__v", "__vn")
        q = sim.with_norm(probes, "probe_vec", "__q", "__qn")
        scored = v.crossJoin(F.broadcast(q)).select(
            "vec_id",
            sim.pair_cosine().alias("score"),
        )
        mx = F.max("score")
        return scored.groupBy("vec_id").agg(
            mx.alias("max_sim"),
            F.sum(
                F.when(F.col("score") >= 0.95, F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
            ).alias("n_probes_over"),
            F.when(mx >= 0.95, F.lit(True))
            .when(mx.isNotNull(), F.lit(False))
            .alias("contaminated"),
        )

    def jl_distortion_shape(emb):
        p = rp.jl_project(
            emb.filter(F.col("embedding").isNotNull()), "embedding",
            in_dim=64, out_dim=16,
        )
        ycols = [f"y{r}" for r in range(16)]
        q = (
            p.orderBy(
                F.md5(F.col("vec_id").cast("string")).asc(),
                F.col("vec_id").asc(),
            )
            .limit(64)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("qe"),
                *[F.col(y).alias(f"q{y}") for y in ycols],
            )
        )
        num = rp.sqdist_named_col([f"q{y}" for y in ycols], ycols)
        den = rp.sqdist_col("qe", "embedding", 64)
        pairs = (
            p.crossJoin(F.broadcast(q))
            .where(F.col("vec_id") != F.col("query_id"))
            .select("query_id", num.alias("num"), den.alias("den"))
        )
        r = pairs.select(
            "query_id",
            F.when(
                F.col("den") > 0, fixed6(F.col("num") / F.col("den"))
            ).alias("ratio"),
        )
        return r.groupBy("query_id").agg(
            F.count("ratio").alias("n_pairs"),
            dec_avg("ratio", "mean_distortion"),
            F.min("ratio").alias("min_distortion"),
            F.max("ratio").alias("max_distortion"),
        )

    probes_fixed = emb_base.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("probe_vec"),
    )
    for f in factors:
        evf = None
        for i in range(f):
            c = ev_base.withColumn(
                "user_id", F.col("user_id") + F.lit(i * n_users)
            )
            evf = c if evf is None else evf.unionByName(c)
        evf = evf.repartition(32).cache()
        nev = evf.count()
        t0 = time.perf_counter()
        _events_funnel_frame(evf, window_hours=2).write.format("noop").mode(
            "overwrite"
        ).save()
        fun_t = round(time.perf_counter() - t0, 2)
        evf.unpersist()

        emb = replicate_embeddings(emb_base, f).repartition(32).cache()
        nem = emb.count()
        t0 = time.perf_counter()
        decontam_shape(
            emb.filter(F.col("vec_id") % 37 != 0), probes_fixed
        ).write.format("noop").mode("overwrite").save()
        dec_t = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        jl_distortion_shape(emb).write.format("noop").mode(
            "overwrite"
        ).save()
        jld_t = round(time.perf_counter() - t0, 2)
        emb.unpersist()
        print(json.dumps({
            "r11_factor": f, "event_rows": nev, "emb_rows": nem,
            "funnel_windowed": fun_t, "benchmark_decontam": dec_t,
            "jl_distortion": jld_t,
        }))

    # Round-11b tier: distributed exact quantiles. The claim under
    # test: grid-count + two-phase prefix sum + broadcast threshold
    # join is ~linear in row count with NO single-task stage — the
    # value domain (distinct prices) grows with replication only via
    # the per-copy id offsets, so both the count agg and the
    # partition-offset pass must track rows, not bend.
    from aurora_mito_etl_spark.operators import quantiles as qtl

    # hoisted out of the factor loop (one scan, not one per factor;
    # r11 ADVICE #3) and guarded for an empty table
    max_ok = li_base.agg(F.max("l_orderkey")).collect()[0][0]
    n_ord = (max_ok or 0) + 1
    for f in factors:
        li = None
        for i in range(f):
            c = li_base.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(i * n_ord)
            )
            li = c if li is None else li.unionByName(c)
        li = li.repartition(32).cache()
        nli = li.count()
        t0 = time.perf_counter()
        qtl.exact_quantiles_grid(li, "l_extendedprice").write.format(
            "noop"
        ).mode("overwrite").save()
        q_t = round(time.perf_counter() - t0, 2)
        li.unpersist()
        print(json.dumps({
            "quantiles_factor": f, "li_rows": nli, "exact_quantiles": q_t,
        }))

    _megagroup_tier(li_base, n_ord, factors)

    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
