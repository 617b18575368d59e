"""Sparse lexical similarity: TF-IDF cosine top-k via inverted-index
join.

The text-side complement of the embedding ANN tier
(`operators/similarity.py`): nearest neighbors by vocabulary overlap,
no embeddings required — the classic retrieval/dedup-triage signal
(and the shape BM25 shares). The scale plan is the inverted index:
documents never pair all-vs-all; weighted postings join on token, so
each candidate pair materializes only through tokens it actually
shares, and high-document-frequency tokens (stopwords — near-zero IDF,
quadratic join fan-out) are dropped from the index up front by a
deterministic df cap.

Cross-engine determinism (the repo's standard discipline): every
log-derived weight is fixed6-rounded (`functions/numeric.fixed6`, the
DSIR convention), every sum of per-token contributions runs in exact
DECIMAL (the `lineitem_corr_stats` convention — decimal x decimal
products, exact sum, one final cast to double), so norms, cosines,
and the top-k boundary are bit-identical in any engine at any
partitioning. Ties rank by neighbor id.

Beyond-reference surface: the reference has no similarity notion over
text at all (its nearest analogue is the exact-dup `sort -u`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aurora_mito_etl_spark.functions.numeric import dec, dec_to_double, fixed6
from aurora_mito_etl_spark.operators.textstats import ascii_ws_tokens, tokens_expr


def _postings(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, tok, tf): per-document token counts under the shared
    tokenizer, empty tokens dropped — materialized once (r13, guide
    §2.4). Every scorer reads the postings from several plan branches
    (tf feeds the df cap AND the weight join; doclen and the
    query-term slice both read it), and unshared, Catalyst re-executed
    the token explode for EVERY reference (16 Generate nodes in the
    tfidf_topk physical plan, zero reuse). The postings table is
    exactly what a production deployment persists."""
    toks = tokens_expr(F.coalesce(F.col(text_col), F.lit("")))
    return (
        docs.select(F.col(id_col).alias("id"), F.explode(toks).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("id", "tok")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )


def _ranked(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    """``(id_col, score, rank)``: the k best (id, score) rows by
    (score desc, id asc) — one global top-k (k rows per partition,
    never a full sort), then a rank over those k rows."""
    ranked = (
        scored.orderBy(F.col("score").desc(), "id")
        .limit(k)
        .select(F.col("id").alias(id_col), "score")
    )
    rank_w = Window.orderBy(F.col("score").desc(), id_col)
    return ranked.withColumn("rank", F.row_number().over(rank_w))


def _term_weights(
    docs: DataFrame, text_col: str, id_col: str, max_df_frac: float
) -> DataFrame:
    """(id, tok, wn): L2-normalized fixed6 TF-IDF weights, stopword
    tokens (df > max_df_frac * N) excluded from the index.

    N enters the plan as a broadcast 1-row aggregate (the lm_score.py
    vocab-scalar pattern), not a driver `.count()` — one plan, no
    extra full-scan job, no driver round-trip at 100 TB. The
    arithmetic is identical to the old scalar form: Python
    `int(frac * n)` == floor on a non-negative double product, and
    `float(n + 1)` == `n.cast(double) + 1.0` at these magnitudes, so
    the oracle SQL (which recomputes N itself) is unchanged."""
    nd = docs.agg(F.count("*").alias("n_docs"))
    # The postings, w (feeds norms AND the normalize join) and the
    # normalized index (feeds both sides of the pair join) are each
    # materialized once, for the reason given in _postings.
    tf = _postings(docs, text_col, id_col)
    df_t = (
        tf.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(nd))
        .where(
            F.col("df")
            <= F.floor(F.lit(max_df_frac) * F.col("n_docs").cast("double"))
        )
    )
    idf = fixed6(
        F.log(
            (F.col("n_docs").cast("double") + F.lit(1.0))
            / (F.col("df").cast("double") + F.lit(1.0))
        )
    )
    w = tf.join(df_t, "tok").select(
        "id", "tok", fixed6(F.col("tf").cast("double") * idf).alias("wt")
    )
    # zero weights (idf rounds to 0 when df ≈ N) contribute nothing
    # and would zero a document's norm — drop them before normalizing
    w = w.where(F.col("wt") != 0).localCheckpoint(eager=False)
    norms = w.groupBy("id").agg(
        F.sqrt(dec_to_double(F.sum(dec("wt") * dec("wt")))).alias("norm")
    )
    return (
        w.join(norms, "id")
        .select("id", "tok", fixed6(F.col("wt") / F.col("norm")).alias("wn"))
        .localCheckpoint(eager=False)
    )


def tfidf_topk(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    max_df_frac: float = 0.25,
) -> DataFrame:
    """Per-document top-k lexical neighbors:
    ``(doc_id, neighbor_id, sim, rank)`` by TF-IDF cosine.

    Unordered pairs materialize once through the inverted-index join
    (id_a < id_b), mirror for per-document ranking, and rank inside a
    per-document window (each partition is one document's candidate
    list, never a global sort). Documents sharing no indexed token
    never meet; documents with no indexed tokens don't appear.
    """
    w = _term_weights(docs, text_col, id_col, max_df_frac)
    a = w.select(F.col("id").alias("id_a"), "tok", F.col("wn").alias("wn_a"))
    b = w.select(F.col("id").alias("id_b"), "tok", F.col("wn").alias("wn_b"))
    pairs = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(dec_to_double(F.sum(dec("wn_a") * dec("wn_b"))).alias("sim"))
        # the mirror union reads pairs twice; materializing runs the
        # inverted-index join ONCE (it is the plan's expensive half)
        .localCheckpoint(eager=False)
    )
    mirrored = pairs.select(
        F.col("id_a").alias("doc_id"), F.col("id_b").alias("neighbor_id"), "sim"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("doc_id"), F.col("id_a").alias("neighbor_id"), "sim"
        )
    )
    rank_w = Window.partitionBy("doc_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        mirrored.withColumn("rank", F.row_number().over(rank_w))
        .where(F.col("rank") <= k)
        .select("doc_id", "neighbor_id", "sim", "rank")
    )


def bm25_search(
    docs: DataFrame,
    query: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents for a free-text `query` by BM25
    (Robertson/Sparck Jones; the Okapi defaults k1=1.2, b=0.75):
    ``(doc_id, score, rank)``.

    Retrieval, not pairwise similarity: the query tokenizes
    driver-side with the SAME shared tokenization as everything else
    (`textstats.ascii_ws_tokens`), its distinct terms prune the
    postings scan to |terms| rows per matching document, and scoring
    is one aggregation + distributed top-k — no index build, usable
    ad hoc over any corpus table.

    Determinism discipline as the TF-IDF path: idf and the per-term
    scores are fixed6-rounded, the per-document sum runs in exact
    decimal, ties rank by id.
    """
    terms = sorted(set(ascii_ws_tokens(query)))
    if not terms:
        raise ValueError("query has no tokens")
    # doclen feeds stats AND the scoring join: materialized once too
    tf_all = _postings(docs, text_col, id_col)
    doclen = tf_all.groupBy("id").agg(F.sum("tf").alias("dl")).localCheckpoint(eager=False)
    # Corpus stats (N = docs with at least one token, avg_dl) as a
    # broadcast 1-row aggregate — the lm_score.py pattern — instead of
    # a driver count + collect: no extra full-scan jobs, one plan.
    # avg_dl is the identical IEEE division (exact int sum cast to
    # double / count cast to double) the old driver-side form did.
    stats = doclen.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).select(
        "n_docs",
        (F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")).alias(
            "avg_dl"
        ),
    )

    tf_q = tf_all.where(F.col("tok").isin(terms))
    df_t = (
        tf_q.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(stats))
    )
    idf = fixed6(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
    )
    tfd = F.col("tf").cast("double")
    norm = tfd * F.lit(k1 + 1.0) / (
        tfd
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl").cast("double") / F.col("avg_dl")
        )
    )
    scored = (
        tf_q.join(df_t, "tok")
        .join(doclen, "id")
        .select("id", fixed6(idf * norm).alias("s"))
        .groupBy("id")
        .agg(dec_to_double(F.sum(dec("s"))).alias("score"))
    )
    return _ranked(scored, id_col, k)


def ql_search(
    docs: DataFrame,
    query: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    mu: float = 2000.0,
) -> DataFrame:
    """Top-k documents by Dirichlet-smoothed query likelihood (Zhai &
    Lafferty 2001): score(d) = sum over query terms of
    ``ln((tf + mu*P(t|C)) / (dl + mu))`` — the language-modeling
    retrieval scorer that completes the lexical family beside TF-IDF
    and BM25 (and the second voice BM25 needs for rank fusion).

    Candidates are docs containing at least one query term (standard
    postings pruning); the smoothing term still scores the query
    terms a candidate LACKS, via a candidate x present-terms grid
    left-joined back onto the postings (grid fan-out is bounded by
    |query terms| per candidate). Query terms with no postings at all
    are dropped — they would contribute ln(0) to every candidate
    equally (both engines agree: the term simply never enters the
    grid). Corpus stats ride as broadcast one-row/|terms|-row
    aggregates, never a driver collect.

    Determinism discipline as BM25: each per-term log is
    fixed6-rounded, the per-document sum runs in exact decimal, ties
    rank by id.
    """
    terms = sorted(set(ascii_ws_tokens(query)))
    if not terms:
        raise ValueError("query has no tokens")
    tf_all = _postings(docs, text_col, id_col)
    doclen = tf_all.groupBy("id").agg(F.sum("tf").alias("dl")).localCheckpoint(eager=False)
    cs = doclen.agg(F.sum("dl").cast("double").alias("ctot"))
    tf_q = tf_all.where(F.col("tok").isin(terms))
    ctf = (
        tf_q.groupBy("tok")
        .agg(F.sum("tf").cast("double").alias("ctf"))
        .crossJoin(F.broadcast(cs))
    )
    cand = tf_q.select("id").distinct()
    grid = cand.crossJoin(F.broadcast(ctf))
    s = grid.join(tf_q, ["id", "tok"], "left").join(doclen, "id").select(
        "id",
        fixed6(
            F.log(
                (
                    F.coalesce(F.col("tf"), F.lit(0))
                    + F.lit(mu) * (F.col("ctf") / F.col("ctot"))
                )
                / (F.col("dl") + F.lit(mu))
            )
        ).alias("s"),
    )
    scored = s.groupBy("id").agg(dec_to_double(F.sum(dec("s"))).alias("score"))
    return _ranked(scored, id_col, k)


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    rank_a_out: str = "bm25_rank",
    rank_b_out: str = "ql_rank",
    k_const: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of
    two ranked lists sharing `id_col` and a `rank` column:
    ``rrf = 1/(k+rank_a) + 1/(k+rank_b)`` with a missing entry
    contributing 0 — the standard hybrid-retrieval combiner (lexical
    + semantic, or two lexical scorers) that needs no score
    calibration because it only reads ranks. Returns every fused id
    with both source ranks (NULL where absent) and the fused rank.

    Both inputs are top-k lists (tiny); the fusion is a full outer
    join on the id. For per-query fusion at scale, add the query id
    to the join key — the arithmetic is rank-only either way. The
    reciprocals are exact-integer divisions (identical IEEE in any
    engine) summed in one fixed expression order, then fixed6.
    """
    ra = a.select(F.col(id_col), F.col("rank").alias(rank_a_out))
    rb = b.select(F.col(id_col), F.col("rank").alias(rank_b_out))
    f = ra.join(rb, id_col, "full_outer").select(
        id_col,
        fixed6(
            F.coalesce(
                F.lit(1.0) / (F.lit(k_const) + F.col(rank_a_out)), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(k_const) + F.col(rank_b_out)), F.lit(0.0)
            )
        ).alias("rrf_score"),
        rank_a_out,
        rank_b_out,
    )
    rank_w = Window.orderBy(F.col("rrf_score").desc(), id_col)
    return f.withColumn("rank", F.row_number().over(rank_w))


def mmr_rerank(
    candidates: DataFrame,
    sims: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-marginal-relevance re-rank (Carbonell & Goldstein
    1998) of a bounded candidate list: greedily pick
    ``argmax lam*score - (1-lam)*max_sim_to_selected`` k times — the
    retrieval-diversity stage that stops a result page being five
    paraphrases of one document.

    `candidates` is a SHORTLIST by construction (a top-k list, tens
    of rows), `sims` a SYMMETRIC (x, y, sim) pair table over it
    (missing pair == 0 similarity). The greedy recurrence is
    loop-UNROLLED into k tiny DataFrame rounds (anti-join the
    selected set, max-sim join against it, argmax via orderBy+limit
    over the bounded list) — the same unrolled shape as the pagerank
    oracle, so a DuckDB twin can replay it as a CTE chain; every mmr
    value is fixed6-gridded and ties break by id, so the selection
    sequence is engine-identical. Round 1 reduces to argmax score
    (the max-sim term is empty)."""
    lam_c, one_minus = F.lit(float(lam)), F.lit(float(1.0 - lam))
    # materialize the bounded inputs once: every greedy round joins
    # against them, and without this each round's plan re-derives the
    # FULL upstream lineage (BM25 chain, pairwise sims) k times over —
    # the k^rounds analyzer blowup the iterative-loop rule exists for
    candidates = candidates.localCheckpoint(eager=False)
    sims = sims.localCheckpoint(eager=False)
    sel = (
        candidates.orderBy(F.col(score_col).desc(), id_col)
        .limit(1)
        .select(id_col, score_col)
        .withColumn("mmr_rank", F.lit(1).cast("int"))
    )
    out = sel.localCheckpoint(eager=False)
    for rnd in range(2, k + 1):
        selected = out.select(id_col)
        remaining = candidates.join(selected, id_col, "anti")
        ms = (
            sims.join(
                selected.withColumnRenamed(id_col, "y"), "y", "semi"
            )
            .groupBy("x")
            .agg(F.max("sim").alias("ms"))
            .withColumnRenamed("x", id_col)
        )
        scored = remaining.join(ms, id_col, "left").select(
            id_col,
            score_col,
            fixed6(
                lam_c * F.col(score_col)
                - one_minus * F.coalesce(F.col("ms"), F.lit(0.0))
            ).alias("mmr"),
        )
        pick = (
            scored.orderBy(F.col("mmr").desc(), id_col)
            .limit(1)
            .select(id_col, score_col)
            .withColumn("mmr_rank", F.lit(rnd).cast("int"))
        )
        out = out.unionByName(pick).localCheckpoint(eager=False)
    return out
