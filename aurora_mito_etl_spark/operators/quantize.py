"""Embedding quantization — the storage/bandwidth lever for 100 TB
vector tables (beyond-reference surface, BASELINE.json north star).

Symmetric per-vector int8: 4× smaller than float32 on disk and over
the shuffle, with recall typically unchanged for cosine retrieval.
Everything is Catalyst expressions; rounding is floor(x + 0.5)
(half-away-from-zero via floor — identical in every engine, unlike
round()'s half-even/half-up split), so quantized codes are
bit-reproducible and DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _scale(vec: Column) -> Column:
    """Per-vector scale max(|x|)/127; zero vectors get scale 1.0 so
    codes are all-zero instead of NULL/NaN."""
    mx = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    return F.when(mx > 0, mx / F.lit(127.0)).otherwise(F.lit(1.0))


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Add (int8-code array, scale) columns: q_i = floor(x_i/scale + 0.5),
    always in [-127, 127] by construction of the scale.

    The scale is materialized as its own column FIRST and the code
    lambda references it — embedding the array_max expression inside
    the per-element lambda would re-evaluate it per element (O(dim²)
    interpreted ops per row)."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = df.withColumn(scale_col, _scale(vec))
    codes = F.transform(
        vec, lambda x: F.floor(x / F.col(scale_col) + F.lit(0.5)).cast("int")
    )
    return out.withColumn(out_col, codes)


def dequantize(
    df: DataFrame,
    code_col: str = "q",
    scale_col: str = "q_scale",
    out_col: str = "deq",
) -> DataFrame:
    """Reconstruct float vectors: x̂_i = q_i · scale."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(code_col), lambda q: q.cast("double") * F.col(scale_col)
        ),
    )


def quantization_error(
    df: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "q",
    scale_col: str = "q_scale",
    out_col: str = "max_abs_err",
) -> DataFrame:
    """Per-vector max |x − q·scale|; bounded by scale/2 (≈ max|x|/254)
    — the invariant tests pin."""
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    err = F.zip_with(
        vec,
        F.col(code_col),
        lambda x, q: F.abs(x - q.cast("double") * F.col(scale_col)),
    )
    return df.withColumn(out_col, F.array_max(err))


def pq_codebooks(
    dim: int, m: int, n_centroids: int, seed: int = 11
) -> list[list[list[float]]]:
    """Pinned product-quantization codebooks: m sub-codebooks of
    n_centroids × (dim/m) pseudo-random centroids (the same
    LCG-Gaussian generator as the IVF/LSH pinned indexes, one seed
    per subspace). Deterministic constants usable verbatim by the
    Spark operator AND a closed-form SQL oracle; at 100 TB you train
    these per-subspace with KMeans on a sample and persist — the
    assignment mechanics are identical."""
    from aurora_mito_etl_spark.operators.similarity import _hyperplanes

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    return [_hyperplanes(dim // m, n_centroids, seed=seed + j) for j in range(m)]


def pq_encode(
    df: DataFrame,
    dim: int,
    m: int = 4,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 11,
) -> DataFrame:
    """Product-quantization codes: the vector is split into m
    subvectors, each assigned to its nearest sub-codebook centroid —
    dim·4 bytes become m·log2(n_centroids) bits (64-dim float32 →
    4 bytes at m=4, k=16: a 64× compression for ANN shortlists).

    Assignment is argmin ‖sv − c‖² ≡ argmax(dot(sv, c) − ‖c‖²/2)
    (ties → larger centroid index, same convention as the IVF
    oracle). Everything is one codegen'd projection of left-to-right
    expression folds over embedded centroid literals, so codes are
    bit-reproducible across engines. Adds columns ``pq_0..pq_{m-1}``
    (int) and ``pq_csv``.
    """
    books = pq_codebooks(dim, m, n_centroids, seed)
    subdim = dim // m
    code_cols = []
    for j, book in enumerate(books):
        sub = F.slice(
            F.transform(F.col(vec_col), lambda x: x.cast("double")),
            j * subdim + 1,
            subdim,
        )
        cands = []
        for cell, cent in enumerate(book):
            half_norm = sum(x * x for x in cent) / 2.0
            dot = F.aggregate(
                F.zip_with(
                    sub,
                    F.array(*[F.lit(float(x)) for x in cent]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            cands.append(
                F.struct(
                    (dot - F.lit(half_norm)).alias("s"),
                    F.lit(cell).alias("cell"),
                )
            )
        code_cols.append(F.greatest(*cands)["cell"].alias(f"pq_{j}"))
    out = df.select("*", *code_cols)
    return out.withColumn(
        "pq_csv", F.concat_ws(",", *[F.col(f"pq_{j}") for j in range(m)])
    )


def _qvec_sql(query_vec_col: str) -> str:
    """Spark-SQL fragment: the query vector cast element-wise to
    double — the exact tree F.transform(col, x -> cast double)
    parses to."""
    return f"transform(`{query_vec_col}`, x -> cast(x as double))"


def _dot_fold_sql(sub_sql: str, cent) -> str:
    """Spark-SQL fragment: the left-to-right dot fold against an
    embedded centroid-literal array — the exact
    aggregate(zip_with(..., (x,y) -> x*y), 0.0, (acc,x) -> acc+x)
    tree the Column API built, as ONE parseable string (repr
    round-trips every double literal exactly)."""
    arr = ",".join(f"{float(x)!r}D" for x in cent)
    return (
        f"aggregate(zip_with({sub_sql}, array({arr}), (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def nearest_cells(vec_col: str, centroids, n: int) -> Column:
    """The `n` cell ids nearest to `vec_col` — top-n by the struct
    (dot(v,c) − ‖c‖²/2, cell) sorted descending, so a tie goes to the
    larger cell as in the Arrow argmax and the oracles' ORDER BY …
    DESC, cell DESC. The IVF probe of `similarity.ivf_topk` and
    :func:`ivfpq_adc_topk`. ONE ``F.expr`` parse (r14): the Column
    build of n_cells 64-literal folds cost ~1,100 py4j round trips per
    query BUILD; the parsed SQL is the identical Catalyst tree."""
    structs = ", ".join(
        f"named_struct('s', {_dot_fold_sql(_qvec_sql(vec_col), c)}"
        f" - {float(sum(x * x for x in c) / 2.0)!r}D, 'cell', {i})"
        for i, c in enumerate(centroids)
    )
    return F.expr(
        f"transform(slice(sort_array(array({structs}), false), 1, {n}), "
        "t -> t.cell)"
    )


def _adc_distance_table_cols(books, subdim: int, query_vec_col: str):
    """Per-subspace ADC distance tables as expression array columns
    ``_dt_j``: entry = ‖c‖² − 2·dot(q_sub, c) (rank-equivalent to
    ‖q_sub − c‖²; the per-query ‖q_sub‖² constant cancels), dots as
    left-to-right folds over embedded centroid literals. SHARED by
    pq_adc_topk and ivfpq_adc_topk — identical to both oracles' qd.

    Built as ONE ``F.expr`` SQL parse per subspace (r14): the Column
    build of m×n_centroids fold entries cost ~1,300 py4j round trips
    (~2 s of driver-side socket chatter per query BUILD — guide §7.3,
    the r13 JL-projection lesson); the parsed SQL yields the
    IDENTICAL Catalyst tree, so values are bit-unchanged."""
    cols = []
    for j, book in enumerate(books):
        sub = f"slice({_qvec_sql(query_vec_col)}, {j * subdim + 1}, {subdim})"
        entries = ", ".join(
            f"{float(sum(x * x for x in cent))!r}D - 2.0D * "
            + _dot_fold_sql(sub, cent)
            for cent in book
        )
        cols.append(F.expr(f"array({entries})").alias(f"_dt_{j}"))
    return cols


def _adc_rank_tail(
    joined: DataFrame, m: int, query_id_col: str, id_col: str, k: int
) -> DataFrame:
    """The shared ADC ranking tail: m element_at lookups summed
    left-associated (matching the oracles' MAX(CASE)+… order) and
    fixed6-rounded BEFORE ranking, then the two-phase
    :func:`similarity.topk` ascending (NULLS LAST, as DuckDB's ASC —
    a NULL distance must never outrank a real one).

    fixed6 on the distance is load-bearing, not cosmetic: DuckDB
    1.0's list_dot_product is NOT a strict left-to-right fold (its
    accumulation order matches neither the sequential fold, FMA, nor
    pairwise — measured one-ulp divergence on sf0.1 query 1700), so
    a raw double distance would hash-mismatch the oracle and a
    one-ulp near-tie could even flip a rank. Rounding both engines'
    sums to the 1e-6 grid before the (adc_dist, id) order makes the
    ranking and the hashed values engine-identical — the same
    mitigation every cosine path uses."""
    from aurora_mito_etl_spark.functions.numeric import fixed6
    from aurora_mito_etl_spark.operators.similarity import topk

    adc = F.element_at(F.col("_dt_0"), F.col("pq_0") + 1)
    for j in range(1, m):
        adc = adc + F.element_at(F.col(f"_dt_{j}"), F.col(f"pq_{j}") + 1)
    scored = joined.select(query_id_col, id_col, fixed6(adc).alias("adc_dist"))
    return topk(scored, query_id_col, id_col, k, "adc_dist", ascending=True)


def pq_encode_arrow(
    df: DataFrame,
    dim: int,
    m: int = 4,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
) -> DataFrame:
    """Arrow production twin of :func:`pq_encode`: one numpy
    (batch × n_centroids) score matrix per subspace instead of the
    interpreted higher-order-function folds (Spark does not codegen
    lambda expressions — measured ~4× faster at sf0.1).

    BIT-IDENTICAL to the expression path, not merely close: scores are
    the SAME float expression (dot − ‖c‖²/2, never the algebraically
    equal ‖sv‖² − 2·dot + ‖c‖² squared-distance form, whose different
    rounding could flip a near-tie — the ADVICE r04 finding), dots use
    the ordered per-dimension fold (`similarity._ordered_gram`, the exact
    aggregate(zip_with) sequence), and half-norms are the identical
    Python floats the expression path embeds. Ties → larger cell via
    the reversed-index argmax. Code equality pinned by pytest.

    A NULL vector, a short vector or a NULL element NaN-poisons the
    subvectors it touches (:func:`similarity._decode_vectors`), which
    then take the largest code — the expression path's all-NULL-score
    tie. The id passes through at its own type."""
    books = pq_codebooks(dim, m, n_centroids, seed)
    return _encode_arrow(df, dim, vec_col, id_col, books)


def _encode_arrow(df, dim, vec_col, id_col, books, cents=None):
    """The mapInArrow pass behind both encoders, over ONE prefix decode
    of the vector column: (id, pq_0..pq_{m-1}, pq_csv), or with IVF
    centroids `cents` (id, cell, pq_0..pq_{m-1}). Cell and codes are
    :func:`similarity._subspace_codes` (the cell with one full-width
    book)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    from aurora_mito_etl_spark.operators.similarity import (
        _decode_vectors,
        _half_norms,
        _subspace_codes,
    )

    mats = [np.array(b, dtype=np.float64) for b in books]
    halves = [_half_norms(b) for b in books]
    names = [f"pq_{j}" for j in range(len(books))]
    if cents is not None:
        names = ["cell", *names]
        cmat, chalf = np.array(cents, dtype=np.float64), _half_norms(cents)
    fields = [T.StructField(c, T.IntegerType(), False) for c in names]
    if cents is None:
        fields.append(T.StructField("pq_csv", T.StringType(), False))
    out_schema = T.StructType([df.schema[id_col], *fields])

    def encode(batches):
        for batch in batches:
            mat, _, _ = _decode_vectors(batch.column(1), dim, prefix=True)
            codes = _subspace_codes(mat, mats, halves, dim // len(books))
            if cents is not None:
                codes = _subspace_codes(mat, [cmat], [chalf], dim) + codes
            cols = [pa.array(c) for c in codes]
            if cents is None:
                cols.append(
                    pc.binary_join_element_wise(
                        *[c.cast(pa.string()) for c in cols], ","
                    )
                )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), *cols], names=out_schema.names
            )

    return df.select(id_col, vec_col).mapInArrow(encode, out_schema)


def ivfpq_encode_arrow(
    df: DataFrame,
    dim: int,
    centroids: list[list[float]],
    m: int = 4,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
) -> DataFrame:
    """ONE-PASS IVF-PQ index build: (id, cell, pq_0..pq_{m-1}) per
    vector — the coarse-quantizer cell AND the PQ codes from a single
    corpus scan (at 100 TB this is the table you persist, partitioned
    by cell: the standard disk-ANN layout; computing cell and codes in
    separate scans would double the read and need a corpus-corpus
    join to reunite them).

    Bit-parity contracts (both oracle-checked by emb_ivfpq_topk):
    cell = argmax(dot(v,c) − ‖c‖²/2) with ties → larger cell, dots as
    the ordered per-dimension fold (`_ordered_gram`) and half-norms as
    Python-float left-to-right sums — the exact convention of
    `similarity.ivf_topk`'s expression path and `pq_encode_arrow`.
    A NULL, short or NULL-element vector takes the largest cell, as in
    that expression path, and the codes :func:`pq_encode_arrow` gives.
    """
    books = pq_codebooks(dim, m, n_centroids, seed)
    return _encode_arrow(df, dim, vec_col, id_col, books, centroids)


def ivfpq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 4,
    n_centroids: int = 16,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 11,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k (Jégou et al., TPAMI 2011 §V — the
    architecture every production-scale ANN system ships): a coarse
    quantizer restricts each query to its `n_probe` nearest of
    `n_cells` cells, and WITHIN the probed cells distances are ADC
    lookups over m nibble codes — so a query touches
    ~n_probe/n_cells of the corpus and reads only codes, never raw
    vectors. Compare `pq_adc_topk` (scans ALL codes) and
    `similarity.ivf_topk` (probes cells but scores raw vectors).

    Plan: one Arrow corpus pass builds (cell, codes); probed queries
    broadcast with their m×n_centroids distance tables riding along;
    the equi-join on cell is the candidate pruning; ranking is the
    two-phase `similarity.topk` (the exact window ranks only
    ≤ k·P survivors). Zero shuffles of corpus-sized data.

    Output: (query_id, vec_id, adc_dist, rank), rank 1..k ascending
    distance, ties by vec_id. Fully oracle-checked over pinned
    centroids/codebooks (emb_ivfpq_topk).
    """
    from aurora_mito_etl_spark.operators import similarity as _sim

    if centroids is None:
        centroids = _sim.ivf_centroids(dim, n_cells)
    books = pq_codebooks(dim, m, n_centroids, seed)
    subdim = dim // m

    index = ivfpq_encode_arrow(
        vectors, dim, centroids, m, n_centroids, vec_col=vec_col,
        id_col=id_col, seed=seed,
    )

    qt = queries.select(
        F.col(query_id_col),
        F.explode(nearest_cells(query_vec_col, centroids, n_probe)).alias("cell"),
        *_adc_distance_table_cols(books, subdim, query_vec_col),
    )

    joined = index.join(F.broadcast(qt), "cell")
    return _adc_rank_tail(joined, m, query_id_col, id_col, k)


def pq_adc_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 4,
    n_centroids: int = 16,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 11,
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k over PQ codes —
    the search half of product quantization (Jégou et al., TPAMI
    2011): the corpus is represented ONLY by its m nibble codes; each
    query precomputes an m×n_centroids distance table and a corpus
    row's approximate distance is m table lookups, never a d-dim dot.

    The per-(query, subspace, centroid) entry is
    ``‖c‖² − 2·dot(q_sub, c)`` — rank-equivalent to ‖q_sub − c‖²
    (the per-query ‖q_sub‖² constant cancels in ranking). Distance
    tables are expression arrays riding on the broadcast query rows
    (constant-key equi-join, a BroadcastHashJoin); the m lookups sum
    in one fixed-order expression, so distances are bit-reproducible.

    Ranking is TWO-PHASE (similarity.topk): each scan
    partition keeps its k best codes per query map-side, and the
    exact rank window runs over the ≤ k·P survivors — never a
    ``Window.partitionBy(query_id)`` over the full scored table,
    which would shuffle every scored corpus row for a query into ONE
    partition and fully sort it (a single-task global sort at scale;
    ADC's whole point is scanning ALL codes, so the unpruned-window
    tail was the operator's scale-killer — VERDICT r5 #2).

    Output: (query_id, vec_id, adc_dist, rank), rank 1..k ascending
    distance, ties by vec_id.
    """
    books = pq_codebooks(dim, m, n_centroids, seed)
    subdim = dim // m
    # Corpus codes come from the Arrow encoder — BIT-IDENTICAL to the
    # expression path `pq_encode` (pinned by test_quantize
    # code-equality), ~10× faster (Spark interprets HOF lambdas per
    # element per row).
    codes = pq_encode_arrow(
        vectors, dim, m, n_centroids, vec_col=vec_col, id_col=id_col, seed=seed
    ).select(id_col, *[f"pq_{j}" for j in range(m)])

    qt = queries.select(
        F.col(query_id_col), *_adc_distance_table_cols(books, subdim, query_vec_col)
    ).withColumn("_k", F.lit(1))

    joined = codes.withColumn("_k", F.lit(1)).join(F.broadcast(qt), "_k")
    return _adc_rank_tail(joined, m, query_id_col, id_col, k)


def ivfpq_rerank_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    m: int = 4,
    n_centroids: int = 16,
    k: int = 5,
    r_cand: int = 20,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 11,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-PQ shortlist + exact-cosine re-rank — the full production
    retrieval stack (Jégou et al. 2011 §V-C "re-ranking with source
    coding"; every disk-ANN deployment ships this shape): the
    quantized index nominates `r_cand` candidates per query from
    codes alone, then ONLY those candidates' raw vectors are read and
    scored exactly, and the top `k` by true cosine ship. ADC
    distortion can scramble order WITHIN the shortlist but the exact
    pass repairs it — recall@k is bounded below by the shortlist's
    recall@r_cand instead of the codes' recall@k.

    Scale posture: stage 1 is `ivfpq_adc_topk` unchanged (codes only,
    broadcast distance tables, two-phase tail). Stage 2 joins the
    candidate id list (n_queries x r_cand rows — bounded by the query
    batch, NOT the corpus) broadcast against the corpus on `id_col`,
    so the corpus never shuffles and only candidate rows surface raw
    vectors; queries broadcast for the cosine. Scoring is the exact
    brute-force contract (fixed6, zero-norm guard, dot_arrow) and the
    ranking tail is the two-phase `similarity.topk`.

    Output: (query_id, vec_id, score, rank), rank 1..k by exact
    cosine descending, ties by vec_id.
    """
    from aurora_mito_etl_spark.operators import similarity as _sim

    cands = ivfpq_adc_topk(
        vectors, queries, dim, m, n_centroids, k=r_cand, n_cells=n_cells,
        n_probe=n_probe, vec_col=vec_col, id_col=id_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col, seed=seed,
        centroids=centroids,
    ).select(query_id_col, id_col)

    v = _sim.with_norm(vectors, vec_col, "__v", "__vn")
    q = _sim.with_norm(queries, query_vec_col, "__q", "__qn")
    pairs = v.join(F.broadcast(cands), id_col)
    scored = pairs.join(F.broadcast(q), query_id_col).select(
        F.col(query_id_col),
        F.col(id_col),
        _sim.pair_cosine().alias("score"),
    )
    return _sim.topk(scored, query_id_col, id_col, k)
