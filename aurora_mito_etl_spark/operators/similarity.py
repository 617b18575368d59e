"""Similarity search over embedding columns.

Beyond-reference surface (BASELINE.json north star) generalizing the
reference's fingerprint-vs-panel scoring (scripts/
finalize_realease.py:199-218, SURVEY §2.3 J7): the panel becomes an
arbitrary query set, Tanimoto becomes cosine, and the scale path is
LSH bucketing instead of a cross join.

Dot products are computed in DOUBLE as ONE ordered fold: each
partial sum adds the next dimension's term, left to right. The
expression forms write it as Catalyst higher-order functions
(zip_with + aggregate); the Arrow batch kernels share one vector
path — :func:`_decode_vectors` turns an Arrow list column into a
float64 matrix, :func:`_ordered_gram` folds it against a constant
matrix (or a group's own rows), :func:`_ordered_rowfold` folds row
against row, and :func:`_subspace_codes` takes the tie-to-largest
argmax. That fold makes sign buckets, cell assignments and cosine
scores bit-identical to any engine that folds sequentially (the
basis of the DuckDB oracles). The exceptions are the ``blas=True``
production twins and :func:`exact_near_dup_pairs_blocked`, which
deliberately use a BLAS matmul.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aurora_mito_etl_spark.functions.numeric import fixed6 as _fixed6, fixed6_np as _fixed6_np


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns (double math)."""
    ad, bd = _to_double(a), _to_double(b)
    return dot(ad, bd) / (l2_norm(ad) * l2_norm(bd))


def with_norm(
    df: DataFrame, vec_col: str, out_vec: str, out_norm: str
) -> DataFrame:
    """Project (vec as double[], ||vec||) ONCE per row, so pairwise
    scoring later costs a single dot product instead of recomputing
    both norms per pair (3× the array traffic at n² pairs)."""
    return df.withColumn(out_vec, _to_double(F.col(vec_col))).withColumn(
        out_norm, l2_norm(F.col(out_vec))
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is broadcast (a query batch is dimension-sized);
    the corpus side streams map-side — no shuffle of the big table —
    then one shuffle on query_id ranks the k winners. Norms are
    precomputed per row (not per pair). This is the correctness
    baseline; :func:`lsh_bucketed_topk` is the 100 TB path.
    """
    v = with_norm(vectors, vec_col, "__v", "__vn")
    q = with_norm(queries, query_vec_col, "__q", "__qn")
    scored = v.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        pair_cosine().alias("score"),
    )
    return topk(scored, query_id_col, id_col, k)


def knn_classify(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 5,
) -> DataFrame:
    """k-NN majority-vote classification over an embedding column:
    ``(query_id, pred_label, n_votes)`` — the evaluation/serving
    workload on top of any labeled vector table (probe a training
    corpus's class structure, label new items by neighborhood).

    Leave-one-out: a query never votes for itself (id != query_id),
    so running the corpus against itself measures real neighborhood
    coherence instead of trivial self-matches. Scoring is the exact
    brute-force cosine contract (fixed6, zero-norm guard) with the
    broadcast-query / streaming-corpus plan and the two-phase top-k
    tail; the vote argmax breaks ties (n_votes desc, label asc) so
    predictions are engine-stable. The label column rides through the
    top-k Arrow pass untouched — no second corpus join to
    recover it."""
    v = with_norm(vectors, vec_col, "__v", "__vn")
    q = with_norm(queries, query_vec_col, "__q", "__qn")
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            F.col(query_id_col),
            F.col(id_col),
            F.col(label_col),
            pair_cosine().alias("score"),
        )
    )
    top = topk(scored, query_id_col, id_col, k)
    votes = top.groupBy(query_id_col, label_col).agg(
        F.count("*").alias("n_votes")
    )
    # explicit null ordering (repo invariant): a NULL label tying at
    # max votes must lose to a real label in BOTH engines (Spark's
    # bare asc sorts NULL first, DuckDB last)
    pick = Window.partitionBy(query_id_col).orderBy(
        F.desc_nulls_last("n_votes"), F.asc_nulls_last(label_col)
    )
    return (
        votes.withColumn("__r", F.row_number().over(pick))
        .where(F.col("__r") == 1)
        .select(
            query_id_col,
            F.col(label_col).alias("pred_label"),
            "n_votes",
        )
    )


def _safe_norm(c):
    """Zero-norm guard for cosine denominators: norm 0 → 1.0, so a
    zero vector scores a finite dot/1 instead of dividing by zero.
    Every top-k oracle mirrors this with CASE WHEN nrm = 0 THEN 1.0."""
    return F.when(c == 0, F.lit(1.0)).otherwise(c)


def pair_cosine() -> Column:
    """The fixed6 cosine of a scored pair: corpus ``__v``/``__vn`` and
    query ``__q``/``__qn`` as :func:`with_norm` projects them, the dot
    through :func:`dot_arrow` and both norms zero-guarded."""
    return _fixed6(
        dot_arrow(F.col("__v"), F.col("__q"))
        / (_safe_norm(F.col("__vn")) * _safe_norm(F.col("__qn")))
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (Box-Muller over a
    fixed LCG — no runtime RNG so plans are reproducible)."""
    x = seed

    def nxt() -> float:
        nonlocal x
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        return (x >> 11) / float(1 << 52)  # uniform [0,1)

    planes = []
    for _ in range(n_planes):
        v = []
        while len(v) < dim:
            u1 = max(nxt(), 1e-12)
            u2 = nxt()
            r = math.sqrt(-2.0 * math.log(u1))
            v.append(r * math.cos(2 * math.pi * u2))
            if len(v) < dim:
                v.append(r * math.sin(2 * math.pi * u2))
        planes.append(v)
    return planes


def ivf_centroids(dim: int, n_cells: int, seed: int = 7) -> list[list[float]]:
    """Pinned pseudo-random coarse-quantizer centroids (same
    LCG-Gaussian generator as :func:`_hyperplanes`, different seed),
    UNIT-NORMALIZED.

    Normalization is load-bearing, not cosmetic: raw Gaussian
    centroids have norm ~√dim, so the −‖c‖²/2 term in the assignment
    score (≈ −dim/2) dwarfs dot(v, c) for unit-norm data and EVERY
    vector collapses into the smallest-norm cell — one worker does the
    whole corpus gram (total skew) and cell pruning prunes nothing.
    Unit centroids make −‖c‖²/2 a constant ½, so assignment reduces to
    direction matching and cells stay balanced (81–152 per cell on the
    sf0.1 embeddings vs 2000-in-one before).

    A deterministic index usable verbatim by both the Spark operator
    and a closed-form SQL oracle — at 100 TB you persist
    KMeans-trained centroids alongside the partitioned-by(cell)
    corpus instead; the assignment/probe mechanics are identical."""
    out = []
    for v in _hyperplanes(dim, n_cells, seed=seed):
        norm = math.sqrt(sum(x * x for x in v))
        out.append([x / norm for x in v])
    return out


def probe_masks(n_planes: int, multi_probe: int) -> list[int]:
    """Bucket-XOR masks for multi-probe LSH: self, then all 1-bit
    flips, then (if multi_probe > 1) all 2-bit flips. Shared by the
    operator and its SQL oracle builders so the probe schedule can
    never silently diverge."""
    masks = [0] + [1 << i for i in range(n_planes)]
    if multi_probe > 1:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return masks


def signed_projection_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: one sign bit per plane.

    Catalyst-expression form — the portable reference semantics
    (left-to-right dot fold, identical to the DuckDB oracles).
    :func:`signed_projection_bucket_arrow` computes the same bits
    ~an order of magnitude faster and bit-identically; this form is
    kept as the executable spec the parity test pins it against."""
    vd = _to_double(vec)
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(c)) for c in p])
        bits.append(
            F.when(dot(vd, plane) >= 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def signed_projection_bucket_arrow(vec: Column, planes: list[list[float]]) -> Column:
    """Arrow-batched twin of :func:`signed_projection_bucket`: one
    vectorized pass per ~10k-row batch instead of n_planes×dim
    Catalyst expression nodes per row.

    BIT-PARITY BY CONSTRUCTION: the dots are :func:`_ordered_gram`'s
    dimension-at-a-time fold — elementwise IEEE-double ops, NO BLAS
    matmul — so every partial sum is the exact sequence Catalyst's
    aggregate(zip_with) and DuckDB's list_dot_product produce, and
    every sign bit (hence bucket, hence oracle row) is bit-identical.
    A pairwise-summing dgemm could flip a sign only when |dot| ~
    1e-15, but "almost never" is not a correctness contract.

    Rows that are NULL or whose length != dim get bucket 0 — the
    same result the expression form yields (zip_with null-pads,
    nulling every dot, so no bit is ever set). A NULL or NaN element
    NaN-poisons every dot, so no bit is set either.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    P = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
    weights = np.int64(1) << np.arange(P.shape[0], dtype=np.int64)

    def batch(arr):
        M, ok, _ = _decode_vectors(arr, P.shape[1])
        bucket = ((_ordered_gram(M, P) >= 0.0) * weights).sum(axis=1)
        bucket[~ok] = 0
        return pa.array(bucket)

    return F.arrow_udf(batch, T.LongType())(vec)


def dot_arrow(a: Column, b: Column) -> Column:
    """Arrow-batched dot product of two array columns — the pair-verify
    hot path (millions of candidate pairs × dim elements; Catalyst
    higher-order functions evaluate interpreted, per element, per row).

    BIT-PARITY BY CONSTRUCTION with :func:`dot`: the
    :func:`_ordered_rowfold` of ``a[j]*b[j]`` — elementwise IEEE
    doubles, no BLAS — so every partial sum is the exact
    left-to-right sequence. CAUTION (measured r7): DuckDB
    1.0's list_dot_product is NOT guaranteed to match this fold —
    its kernel diverged by one ulp on a real sf0.1 input — which is
    why every dot-derived value that reaches an oracle hash MUST go
    through fixed6 (cosines always did; the ADC distances now do),
    and why raw dots must never be compared engine-to-engine.

    NULL inputs and length-mismatched pairs → NULL (zip_with null-pad
    semantics); rows are grouped by array length per batch so any
    consistent length computes exactly.

    DELIBERATE divergence from the expression form for non-finite
    inputs: a NaN dot (from a NaN or NULL element) is returned as
    NULL, so a NaN-poisoned vector sorts LAST in top-k ranking — the
    expression form's NaN
    sorts FIRST under ORDER BY DESC (Spark treats NaN as largest),
    which ranked garbage vectors as best neighbors. Pinned by
    test_nan_vector_ranks_last; irrelevant to the oracles (finite
    test data).
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    def batch(a, b):
        la, lb = _lengths(a), _lengths(b)
        out = np.full(len(a), np.nan)
        for width in np.unique(la[(la == lb) & (la >= 0)]):
            A, oka, _ = _decode_vectors(a, width)
            B, okb, _ = _decode_vectors(b, width)
            sel = oka & okb
            out[sel] = _ordered_rowfold(A[sel], B[sel], np.multiply)
        return pa.array(out, mask=np.isnan(out))

    return F.arrow_udf(batch, T.DoubleType())(a, b)


def lsh_bucketed_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 5,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's
    random-hyperplane bucket. At 100 TB, corpus buckets are written
    bucketed-by(bucket) so a query batch touches only its partitions;
    multi-probe (flip one bit) can be layered for recall.
    """
    planes = _hyperplanes(dim, n_planes)
    vb = with_norm(vectors, vec_col, "__v", "__vn").withColumn(
        "bucket", signed_projection_bucket_arrow(F.col(vec_col), planes)
    )
    qb = with_norm(queries, query_vec_col, "__q", "__qn").withColumn(
        "bucket", signed_projection_bucket_arrow(F.col(query_vec_col), planes)
    )
    scored = vb.join(F.broadcast(qb), "bucket").select(
        F.col(query_id_col),
        F.col(id_col),
        pair_cosine().alias("score"),
    )
    return topk(scored, query_id_col, id_col, k)


def exact_near_dup_pairs_blocked(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rows_per_block: int = 4096,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via distributed block-pair
    matrix multiply — no driver collect, no full-table broadcast.

    Vectors hash into B = ceil(n / rows_per_block) blocks; each vector
    is replicated to the B block-pair groups it participates in, and
    each (block_i ≤ block_j) group computes its similarity tile in
    BLAS inside one applyInArrow task. Every unordered id pair lands
    in exactly one group, so output pairs (id_a < id_b) are emitted
    once. Task memory is bounded by two blocks plus a chunked tile
    (tile rows are processed ≤1024 at a time), independent of n.

    Exact all-pairs is intrinsically O(n²) compute and O(n·B) shuffle;
    this keeps it distributed and spill-safe, but past ~10M vectors
    use :func:`embedding_near_dup_pairs` (LSH) — exact all-pairs at
    that scale is the wrong query.
    """
    import math

    import numpy as np
    from pyspark.sql import types as T

    # One aggregate action to size the blocking; never row data.
    n = vectors.count()
    n_blocks = max(1, math.ceil(n / rows_per_block))

    v = vectors.select(id_col, vec_col).withColumn(
        "__blk", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    )
    # Each vector joins the B groups (min(blk,j), max(blk,j)) for
    # j = 0..B-1 — exactly once per group, so every unordered block
    # pair sees each of its vectors once.
    replicated = (
        v.withColumn(
            "__other", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
        )
        .withColumn("__pa", F.least("__blk", "__other"))
        .withColumn("__pb", F.greatest("__blk", "__other"))
    )

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("cos_sim", T.DoubleType(), False),
        ]
    )

    def tile(key, table):
        import pyarrow as pa

        pa_blk, pb_blk = (k.as_py() for k in key)
        vec = table.column(vec_col).combine_chunks()
        lens = _lengths(vec)
        if lens.min() < 0 or lens.min() != lens.max():
            raise ValueError(
                "exact_near_dup_pairs_blocked: vectors must be non-NULL "
                "and share one length"
            )
        mat, _, _ = _decode_vectors(vec, int(lens[0]))
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        mat /= norms[:, None]
        ids = table.column(id_col).to_numpy().astype(np.int64)
        blk = table.column("__blk").to_numpy()
        out_a, out_b = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        out_s = [np.empty(0)]

        def _emit(ra, rb, self_tile):
            ids_a, mat_a, ids_b, mat_b = ids[ra], mat[ra], ids[rb], mat[rb]
            for lo in range(0, len(ids_a), 1024):
                hi = lo + 1024
                sims = mat_a[lo:hi] @ mat_b.T
                mask = sims >= threshold
                if self_tile:
                    mask &= ids_a[lo:hi, None] < ids_b[None, :]
                else:
                    mask &= ids_a[lo:hi, None] != ids_b[None, :]
                ai, bj = np.nonzero(mask)
                ia, ib = ids_a[lo:hi][ai], ids_b[bj]
                out_a.append(np.minimum(ia, ib))
                out_b.append(np.maximum(ia, ib))
                out_s.append(_fixed6_np(sims[ai, bj]))

        if pa_blk == pb_blk:
            every = np.arange(len(ids))
            _emit(every, every, self_tile=True)
        else:
            left, right = np.flatnonzero(blk == pa_blk), np.flatnonzero(blk == pb_blk)
            _emit(left, right, self_tile=False)
        return pa.table(
            [np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_s)],
            names=out_schema.names,
        )

    return replicated.groupBy("__pa", "__pb").applyInArrow(tile, out_schema)


def topk(
    scored: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    score_col: str = "score",
    ascending: bool = False,
) -> DataFrame:
    """The k best rows per `group_col` value by (score, id), with a
    1-based ``rank`` column appended — the one ranking tail every
    top-k operator uses.

    Two phases under ONE total order, (score NULLS LAST in the given
    direction, id ASC NULLS LAST):

    1. :func:`_prune_topk` keeps each input partition's k best rows
       per group inside one mapInArrow pass (no shuffle), so
    2. the exact ``row_number`` window only ranks the ≤ k·P
       survivors.

    A bare ``Window.partitionBy(group)`` over unpruned candidates
    shuffles EVERY scored row of a group into one partition and fully
    sorts it: with few groups that is a single-task global sort — the
    guaranteed straggler at 100× corpus scale (VERDICT r5
    scale-killer). The result equals that one-phase window over the
    whole table because both phases sort by the same total order:
    every partition keeps its k best under it, and the global top-k
    is a subset of the union of partition-local top-k.

    NULL scores and NULL ids sort LAST in both directions (DuckDB's
    default for ASC, the oracles' convention): a NaN-poisoned vector
    (NULL score via dot_arrow) still appears at the tail when fewer
    than k real candidates exist, it just never outranks one (pinned
    by test_nan_vector_ranks_last). A NaN score ranks where Spark's
    order puts it: above every number (NULL stays last)."""
    pruned = _prune_topk(scored, group_col, id_col, k, score_col, ascending)
    score = F.asc_nulls_last(score_col) if ascending else F.desc_nulls_last(score_col)
    w = Window.partitionBy(group_col).orderBy(score, F.asc_nulls_last(id_col))
    return pruned.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def _prune_topk(
    scored: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    score_col: str,
    ascending: bool,
) -> DataFrame:
    """Phase 1 of :func:`topk`: each partition's k best rows per group
    (bounded state: k × n_groups rows per task), taken with
    ``Table.take`` so every column passes through bit-unchanged (NaN
    stays NaN, NULL stays NULL).

    The prune order is the window's: group, then score NULLS LAST with
    NaN above every number (Spark's order; Arrow's own sort would put
    NaN last in both directions, so NaN is a key of its own), then id
    ASC NULLS LAST. Groups are dictionary codes with NULL as a code of
    its own; a group the codes split (NaN or signed-zero keys) only
    keeps more survivors, which the exact window then ranks."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    order = "ascending" if ascending else "descending"

    def keep_k(t: pa.Table) -> pa.Table:
        g = pc.dictionary_encode(
            t.column(group_col).combine_chunks(), null_encoding="encode"
        ).indices
        s = t.column(score_col)
        null = s.is_null()
        # a score type without NaN reuses the NULL flag: constant
        # among the non-NULL rows the "null" key already put first
        nan = pc.fill_null(pc.is_nan(s), False) if pa.types.is_floating(s.type) else null
        keys = pa.table(
            {"g": g, "null": null, "nan": nan,
             "v": pc.if_else(nan, pa.scalar(None, s.type), s), "id": t.column(id_col)}
        )
        sort = [("g", "ascending"), ("null", "ascending"), ("nan", order)]
        sort += [("v", order), ("id", "ascending")]
        idx = pc.sort_indices(keys, sort, null_placement="at_end")
        gs = g.take(idx).to_numpy()
        pos = np.arange(len(gs))
        first = np.where(np.r_[True, gs[1:] != gs[:-1]], pos, 0)
        rank = pos - np.maximum.accumulate(first)  # 0-based within group
        return t.take(idx.to_numpy()[rank < k])

    def prune(batches):
        best = None
        for batch in batches:
            if batch.num_rows:
                t = pa.Table.from_batches([batch])
                best = keep_k(t if best is None else pa.concat_tables([best, t]))
        if best is not None:
            yield from best.to_batches()

    return scored.mapInArrow(prune, scored.schema)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a k-means coarse
    quantizer partitions the corpus into `n_cells` cells; each query
    scans only its `n_probe` nearest cells.

    By default the quantizer is Spark ML KMeans — seeded, but
    k-means|| initialization samples per partition, so centroids can
    differ across cluster layouts; pass `centroids` explicitly for a
    fully pinned index (at 100 TB you persist the trained centroids
    alongside the partitioned-by(cell) corpus anyway — the standard
    disk-ANN layout).

    Cell assignment is TRUE nearest-centroid: argmax of
    dot(v, c) − ‖c‖²/2 ≡ argmin ‖v−c‖² — a raw-dot argmax would pile
    vectors into whichever centroid has the largest norm. Zero-norm
    vectors score 0 (not NaN) so they can never displace real
    neighbors.
    """
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        train = vectors.select(
            array_to_vector(_to_double(F.col(vec_col))).alias("features")
        )
        model = KMeans(k=n_cells, seed=seed, maxIter=10).fit(train)
        centroids = [list(map(float, c)) for c in model.clusterCenters()]


    from aurora_mito_etl_spark.operators.quantize import nearest_cells

    vb = with_norm(vectors, vec_col, "__v", "__vn").withColumn(
        "cell", nearest_cells(vec_col, centroids, 1)[0]
    )
    qb = with_norm(queries, query_vec_col, "__q", "__qn").withColumn(
        "cell", F.explode(nearest_cells(query_vec_col, centroids, n_probe))
    )
    scored = vb.join(F.broadcast(qb), "cell").select(
        F.col(query_id_col),
        F.col(id_col),
        pair_cosine().alias("score"),
    )
    return topk(scored, query_id_col, id_col, k)


def _lengths(arr):
    """Per-row length of an Arrow list array, -1 for a NULL row."""
    import numpy as np

    return np.where(
        arr.is_valid().to_numpy(zero_copy_only=False),
        np.diff(arr.offsets.to_numpy()),
        -1,
    )


def _decode_vectors(arr, dim: int, prefix: bool = False):
    """The one decoder of the Arrow vector path: an Arrow
    ``list<float|double>`` array → ``(mat, ok, null_el)``.

    ``mat`` is ``(len(arr), dim)`` float64 holding each row's first
    ``min(length, dim)`` elements; every other cell — a NULL row, the
    tail of a short row, a NULL element — is NaN, so any fold over an
    invalid row is NaN-poisoned by construction. ``ok`` is the length
    rule: non-NULL with exactly ``dim`` elements, or with ``prefix``
    at least ``dim`` (extra dims ignored — the ``slice`` semantics).
    ``null_el`` flags the rows with a NULL element among those first
    ``dim`` — reported apart from NaN elements, which stay NaN values.
    One gather over the offsets and the flat child; no per-row Python."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    lens = _lengths(arr)
    flat = arr.values
    vals = np.append(flat.cast(pa.float64()).to_numpy(zero_copy_only=False), np.nan)
    nulls = np.append(flat.is_null().to_numpy(zero_copy_only=False), False)
    j = np.arange(dim)
    src = np.where(
        j < lens[:, None], arr.offsets.to_numpy()[:-1, None] + j, len(vals) - 1
    )
    ok = lens >= dim if prefix else lens == dim
    return vals[src], ok, nulls[src].any(axis=1)


def _ordered_gram(A, B):
    """(rows(A) × rows(B)) gram matrix whose every element is the exact
    left-to-right dimension-order IEEE fold (the oracle bit-parity
    contract of aggregate(zip_with) / list_dot_product) — the one fold
    of the Arrow kernels against a constant matrix (planes, centroids,
    codebooks, JL signs) or a group's own rows.

    Cache-blocked: the naive `G += A[:,j:j+1] * B[:,j]` re-streams the
    whole gram through memory once per dimension (dim× the bandwidth);
    accumulating into a block of ~64k doubles (256×256, taller when B
    is thin) that stays in L2 across the dimension loop cuts that to
    ~one pass. Per-ELEMENT summation order is unchanged — only the
    schedule across independent elements moves, which IEEE addition
    doesn't observe — so results are bit-identical to the naive loop
    (pinned by test_ordered_gram_bit_parity).
    """
    import numpy as np

    n, dim = A.shape
    m = B.shape[0]
    G = np.empty((n, m), dtype=np.float64)
    CB = 256
    RB = max(CB, (1 << 16) // max(min(m, CB), 1))
    for i0 in range(0, n, RB):
        i1 = min(i0 + RB, n)
        Ai = A[i0:i1]
        for j0 in range(0, m, CB):
            j1 = min(j0 + CB, m)
            Bj = B[j0:j1]
            blk = np.zeros((i1 - i0, j1 - j0), dtype=np.float64)
            for j in range(dim):
                blk += Ai[:, j : j + 1] * Bj[:, j]
            G[i0:i1, j0:j1] = blk
    return G


def _ordered_rowfold(A, B, term):
    """acc[i] = term(A[i,0], B[i,0]) + term(A[i,1], B[i,1]) + …, the
    same left-to-right fold row against row (``np.multiply`` gives the
    dot, a squared difference the squared distance)."""
    import numpy as np

    acc = np.zeros(len(A), dtype=np.float64)
    for j in range(A.shape[1]):
        acc += term(A[:, j], B[:, j])
    return acc


def _half_norms(rows):
    """‖c‖²/2 per row as a Python-float left-to-right sum — the exact
    literal the expression paths embed (numpy's pairwise .sum may
    differ in the last ulp)."""
    import numpy as np

    return np.array([sum(x * x for x in c) / 2.0 for c in rows], dtype=np.float64)


def _subspace_codes(mat, books, half_norms, subdim):
    """One int32 code array per sub-codebook: argmax(dot − ‖c‖²/2)
    with ties → larger cell, dots as :func:`_ordered_gram`, half-norms
    from :func:`_half_norms`. A NaN score (a NaN-poisoned subvector)
    counts as the maximum, so an all-NaN row picks the largest cell —
    the expression paths' rule for an all-NULL score.

    The one argmax of the Arrow kernels: the PQ and IVF-PQ encoders
    and, with a single full-width "book", the IVF cell assignment —
    the bit-parity contract every oracle replay depends on lives here
    or nowhere."""
    import numpy as np

    out = []
    for j, book in enumerate(books):
        sv = mat[:, j * subdim : (j + 1) * subdim]
        score = _ordered_gram(sv, book) - half_norms[j][None, :]
        # the FIRST max of the reversed columns is the LAST original
        out.append(
            ((score.shape[1] - 1) - np.argmax(score[:, ::-1], axis=1)).astype(
                np.int32
            )
        )
    return out


def _same_bucket_pairs(
    both: DataFrame, id_type, margin: float, blas: bool = False
) -> DataFrame:
    """Pair-verify engine shared by the LSH near-dup and SemDeDup
    operators: `both` carries (id, __v, __vn, side, bucket); within
    each bucket group every (side=0, side=1) pair with id_a < id_b
    and raw cosine >= `margin` is emitted as (id_a, id_b, __raw).

    Runs INSIDE each bucket group (applyInArrow), not as a join that
    materializes one Spark row — carrying two dim-wide arrays — per
    candidate pair: Arrow traffic is O(n · probes) vectors while pair
    enumeration and the gram products stay in numpy.

    Two gram paths, same plan:

    - ``blas=False`` (oracle/portable): cache-blocked ordered
      accumulation (:func:`_ordered_gram` — dimension-at-a-time per
      element) so every partial sum is the exact left-to-right fold
      Catalyst's aggregate(zip_with) and DuckDB's list_dot_product
      produce — the bit-parity contract that keeps these operators
      oracle-checkable.
    - ``blas=True`` (production): one ``A @ B.T`` dgemm per chunk.
      BLAS pairwise summation can differ from the ordered fold by
      O(dim·eps) relative error, so a cosine sitting within ~1e-12 of
      the threshold may flip — callers' `margin` safety gap (1e-6)
      dwarfs that; twin equality on real data is pinned by
      tests/test_similarity_prod_twins.py. This is the 100 TB path.

    Callers re-round and re-test the threshold in Catalyst; `margin`
    keeps a safety gap.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type, False),
            T.StructField("id_b", id_type, False),
            T.StructField("__raw", T.DoubleType(), False),
        ]
    )
    # Memory per group: rows·dim·8 bytes for the stacked matrices plus
    # one CHUNK×|B| gram block (A is processed in chunks so the gram
    # never goes quadratic in the bucket size). Size the bucketing
    # (n_planes / n_cells) so expected bucket width keeps rows·dim·8
    # within executor memory — the same knob that bounds candidates.
    chunk = 4096

    def verify(table: pa.Table) -> pa.Table:
        # the caller keeps only size == dim rows, so every row of the
        # group has the group's widest length
        vec = table.column("__v").combine_chunks()
        M, _, _ = _decode_vectors(vec, int(_lengths(vec).max()))
        ids = table.column("id")
        idn = ids.to_numpy()
        nrm = table.column("__vn").to_numpy()
        side = table.column("side").to_numpy()
        ra, rb = np.flatnonzero(side == 0), np.flatnonzero(side == 1)
        B = M[rb]
        take_a, take_b = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        raw = [np.empty(0)]
        for lo in range(0, len(ra), chunk):
            rows = ra[lo : lo + chunk]
            A = M[rows]
            G = (A @ B.T) if blas else _ordered_gram(A, B)
            cos = G / (nrm[rows, None] * nrm[None, rb])
            ri, ci = np.nonzero((idn[rows, None] < idn[None, rb]) & (cos >= margin))
            take_a.append(rows[ri])
            take_b.append(rb[ci])
            raw.append(cos[ri, ci])
        return pa.table(
            [ids.take(np.concatenate(take_a)), ids.take(np.concatenate(take_b)),
             np.concatenate(raw)],
            names=out_schema.names,
        )

    return both.groupBy("bucket").applyInArrow(verify, out_schema)


def embedding_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    multi_probe: int = 0,
    candidate_budget: int | None = None,
    blas: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucketing: only
    same-bucket pairs are scored (O(n·bucket_width) not O(n²)),
    then filtered by exact cosine >= threshold.

    `multi_probe` > 0 also probes buckets within that Hamming
    distance of one side's bucket (bit flips), trading `n_planes
    choose multi_probe`× candidate volume for recall — the standard
    lever when a near-dup pair straddles one hyperplane.

    `candidate_budget` caps that trade per vector: probe buckets are
    visited in (Hamming distance, mask) order and a vector stops
    probing once the cumulative population of its visited buckets
    reaches the budget (the bucket that crosses the line is still
    probed, so the self bucket always survives). Deterministic and
    purely declarative — bucket sizes + one cumulative-sum window —
    so it is expressible in the SQL oracle too. Recall degrades
    gracefully: the nearest (low-distance) buckets are always probed
    first.

    `blas=True` switches the in-bucket gram products from the ordered
    oracle-parity fold to one dgemm per chunk (the production fast
    path; see :func:`_same_bucket_pairs`)."""
    planes = _hyperplanes(dim, n_planes)
    vb = (
        with_norm(vectors, vec_col, "__v", "__vn")
        .select(
            F.col(id_col),
            F.col("__v"),
            F.col("__vn"),
            signed_projection_bucket_arrow(F.col(vec_col), planes).alias("bucket"),
        )
        # NULL / wrong-dim vectors can never produce a passing pair in
        # the expression form (their dot is NULL) — drop them up front
        # so bucket groups stack into rectangular numpy matrices.
        .filter(F.size("__v") == dim)
    )
    # Candidate generation + verify happen INSIDE each bucket group
    # (applyInArrow), not as a join that materializes one Spark row —
    # carrying two dim-wide arrays — per candidate pair. Arrow traffic
    # is O(n · probes) vectors, while pair enumeration and the gram
    # products stay in numpy. At a loose threshold (near-all-pairs
    # candidates) this is ~5× the join formulation; at production
    # thresholds the win grows with bucket selectivity.
    probes = probe_masks(n_planes, multi_probe) if multi_probe > 0 else [0]
    a = vb.select(
        F.col(id_col).alias("id"), "__v", "__vn", "bucket", F.lit(0).alias("side")
    ).select(
        "id",
        "__v",
        "__vn",
        "side",
        F.posexplode(
            F.array(
                *[F.col("bucket").bitwiseXOR(F.lit(p)).cast("long") for p in probes]
            )
        ).alias("probe_rank", "bucket"),
    )
    if candidate_budget is not None and multi_probe > 0:
        # probe_masks is (Hamming distance, mask)-ordered, so the
        # running population sum visits nearest buckets first; keep
        # every probe whose PRECEDING cumulative population is under
        # budget (the crossing bucket itself still probes).
        sizes = vb.groupBy("bucket").agg(F.count("*").alias("__bsize"))
        w_cum = Window.partitionBy("id").orderBy("probe_rank")
        a = (
            a.join(sizes, "bucket", "left")
            .withColumn("__bsize", F.coalesce("__bsize", F.lit(0)))
            .withColumn(
                "__before", F.sum("__bsize").over(w_cum) - F.col("__bsize")
            )
            .filter(F.col("__before") < candidate_budget)
            .drop("__bsize", "__before")
        )
    a = a.drop("probe_rank")
    b = vb.select(
        F.col(id_col).alias("id"), "__v", "__vn", "bucket", F.lit(1).alias("side")
    )
    both = a.unionByName(b)
    # raw (unrounded) cosine crosses the boundary; fixed6 rounding and
    # the exact threshold test stay in Catalyst (engine-portable floor
    # form) — the numpy prefilter keeps a safety margin.
    out = (
        _same_bucket_pairs(
            both, vectors.schema[id_col].dataType, threshold - 1e-6, blas=blas
        )
        .select("id_a", "id_b", _fixed6(F.col("__raw")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )
    # multi-probe can surface the same pair via several buckets
    return out.dropDuplicates(["id_a", "id_b"]) if multi_probe > 0 else out


def nearest_cell_arrow(vec: Column, centroids: list[list[float]]) -> Column:
    """Arrow-batched nearest-centroid assignment: argmax over cells of
    dot(v, c) − ‖c‖²/2 (≡ argmin ‖v−c‖²), ties to the LARGEST cell id
    — exactly the rule `ivf_topk`'s Catalyst expression and the SQL
    oracles' `ORDER BY score DESC, cell DESC` implement.

    Bit-parity by construction (same contract as
    :func:`signed_projection_bucket_arrow`): the score and its argmax
    are :func:`_subspace_codes` with one full-width book — the
    ordered fold, no BLAS — and the half-norm constants are the
    identical Python floats both engines embed, so every score and
    therefore every assignment matches the oracle exactly. NULL /
    wrong-dim rows get cell -1 (callers drop or route them
    explicitly; a silent bucket-0 would quietly pollute a real cell).
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype=np.float64)  # (n_cells, dim)
    hn = _half_norms(centroids)

    def batch(arr):
        M, ok, _ = _decode_vectors(arr, C.shape[1])
        cell = _subspace_codes(M, [C], [hn], C.shape[1])[0]
        cell[~ok] = -1
        return pa.array(cell)

    return F.arrow_udf(batch, T.IntegerType())(vec)


def semantic_dedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_cells: int = 16,
    centroids: list[list[float]] | None = None,
    blas: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings with a coarse
    quantizer, then drop within-cluster cosine near-duplicates.

    Output is the full roster — one row per well-formed input vector:
    (`id_col`, ``cell``, ``kept``). A row is dropped (kept=false) iff
    some SAME-cell row with a smaller id has cosine >= `threshold`
    to it; survivors are the per-near-dup-group minimum ids. The
    paper orders candidates by distance-to-centroid; min-id is the
    engine's deterministic convention (same pruned count, stable
    across runs, engines, and partitionings — a centroid-distance
    order is one extra sort if needed).

    Scale shape — SINGLE-SHUFFLE: assignment is one Arrow pass (no
    shuffle); each vector then shuffles ONCE on its cell id, and one
    `applyInArrow` pass per cell emits the roster row directly with
    the max prior-id cosine attached. The keep/drop decision itself
    stays in Catalyst (``fixed6(max_prior) >= threshold`` — max
    commutes with the monotonic fixed6, so the verdict is bit-identical
    to enumerating pairs), which keeps the operator oracle-checkable.
    The earlier pair-join formulation shipped every vector through the
    exchange TWICE (a two-sided union) and needed two more shuffles
    (distinct + roster join) — 4 stages of overhead at bench scale and
    2× vector shuffle volume at 100 TB, for the same output.

    Pairs stay inside cell groups (O(n·cell_width), never global
    O(n²)) with `n_cells` as the width knob. Cross-cell near-dups are
    out of scope by construction (the paper's recall trade); raise
    `n_cells` resolution or run the LSH tier for cross-cell recall.
    Wrong-dim / NULL vectors are excluded from the roster.
    `blas=True` runs the in-cell gram as one dgemm per chunk (the
    production path; see :func:`_same_bucket_pairs`).
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    if centroids is None:
        centroids = ivf_centroids(dim, n_cells)
    vb = (
        with_norm(vectors, vec_col, "__v", "__vn")
        .select(
            F.col(id_col).alias("id"),
            F.col("__v"),
            F.col("__vn"),
            nearest_cell_arrow(F.col(vec_col), centroids).alias("bucket"),
        )
        .filter(F.size("__v") == dim)
    )

    margin = threshold - 1e-6
    id_type = vectors.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_type, False),
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("__best", T.DoubleType(), True),
        ]
    )
    chunk = 4096

    def roster(table: pa.Table) -> pa.Table:
        ids = table.column("id").to_numpy()
        B, _, _ = _decode_vectors(table.column("__v"), dim)
        nb = table.column("__vn").to_numpy()
        best = np.full(len(ids), -np.inf, dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            for lo in range(0, len(ids), chunk):
                hi = min(lo + chunk, len(ids))
                A = B[lo:hi]
                G = (A @ B.T) if blas else _ordered_gram(A, B)
                cos = G / (nb[lo:hi, None] * nb[None, :])
                # prior = strictly smaller id; NaN (zero-norm) and
                # sub-margin cosines never qualify (NaN >= x is False)
                ok = (ids[None, :] < ids[lo:hi, None]) & (cos >= margin)
                cos[~ok] = -np.inf
                best[lo:hi] = cos.max(axis=1, initial=-np.inf)
        return pa.table(
            [table.column("id"), table.column("bucket"),
             pa.array(best, mask=~np.isfinite(best))],
            names=out_schema.names,
        )

    out = vb.groupBy("bucket").applyInArrow(roster, out_schema)
    return out.select(
        F.col("id").alias(id_col),
        "cell",
        # NULL max (no qualifying prior) → kept; fixed6 rounding stays
        # in Catalyst (engine-portable floor form)
        F.coalesce(
            _fixed6(F.col("__best")) < F.lit(threshold), F.lit(True)
        ).alias("kept"),
    )


def _label_valid(df: DataFrame, vec_col: str, label_col: str, dim: int) -> DataFrame:
    """Shared exclusion contract of the label-centroid family: NULL
    label, NULL/short vector or NULL element rows never participate
    (mirrored verbatim by the oracle CTE)."""
    emb = F.col(vec_col)
    return df.filter(
        F.col(label_col).isNotNull()
        & emb.isNotNull()
        & (F.size(emb) == dim)
        & ~F.exists(emb, lambda x: x.isNull())
    )


def _label_centroids(
    df: DataFrame, vec_col: str, label_col: str, id_out: str, dim: int
) -> DataFrame:
    """(label, n, vec: array<double>[dim], norm2) — per-label mean
    vector with exact 1e-6-grid BIGINT per-dimension sums (order-free,
    overflow-guarded), ONE map-side-combinable aggregate.

    The n_labels-row result is localCheckpoint'ed: lineage is cut
    BEFORE the dot/norm folds + any self-join (same lineage-cut rule
    as the iterative loops, applied to a bounded label-domain-sized
    frame — the eager job costs one pass over the already-aggregated
    centroid rows). An explicit 64-term `+`-chain here drove
    Catalyst's commutative-Add canonicalization inside join constraint
    propagation into a driver OOM at dim=64; the zip_with/aggregate
    fold downstream is a single expression node with the SAME
    left-to-right IEEE order the SQL twin's chain writes out
    ((0.0 + t0) + t1 ... == (t0 + t1) + ... bit-for-bit; the -0.0 seam
    only flips a sign fixed6 and the ==0 guard both erase).

    Guard shape (r13 optimization, guide §1.2 "per-task work"): the
    original 64 per-column micros6/micros_sum when+raise_error guards
    made janino compile a multi-megabyte aggregate (~3.4 s per FRESH
    build, re-paid on every bench pass) and still ran 1.4× slower
    warm at 500k rows. Semantics are unchanged but restructured into
    compact code: (a) one per-row `exists` overflow probe over the
    sliced vector gates a single raise_error on column 0 — it fires
    for exactly the element set micros6 would have raised on
    (|x·1e6+0.5| ≥ 2^63 within dims 0..dim-1; NULL elements never
    raise on either form); (b) the 64 sums are bare
    floor(x·1e6+0.5)::decimal(38,0) — identical values to micros6 on
    the non-raise branch; (c) the int64 range guard + /1e6 /n centroid
    division run post-aggregation inside ONE `transform` over the
    64-sum array (n_labels rows), preserving micros_sum's
    long-cast-then-double chain bit-for-bit. Measured 5.7 s → 1.7 s
    per fresh build on this box, and 1.32 s → 0.92 s warm at 500k
    synthetic rows."""
    emb = F.col(vec_col)
    valid = _label_valid(df, vec_col, label_col, dim)
    bad_row = F.exists(
        F.slice(emb.cast("array<double>"), 1, dim),
        lambda x: F.abs(x * 1_000_000 + F.lit(0.5)) >= F.lit(float(2**63)),
    )

    def _s(d: int) -> Column:
        f = F.floor(F.get(emb, d).cast("double") * 1_000_000 + F.lit(0.5))
        if d == 0:
            f = F.when(
                bad_row,
                F.raise_error(
                    F.lit("micros6 overflow (|value| >= ~9.2e12)")
                ).cast("long"),
            ).otherwise(f)
        return F.sum(f.cast("decimal(38,0)")).alias(f"s{d}")

    cents = valid.groupBy(F.col(label_col).alias(id_out)).agg(
        F.count(F.lit(1)).alias("n"), *[_s(d) for d in range(dim)]
    )
    lo, hi = F.lit(-(2**63)), F.lit(2**63 - 1)
    cvals = cents.select(
        id_out,
        "n",
        F.transform(
            F.array(*[F.col(f"s{d}") for d in range(dim)]),
            lambda sd: F.when(
                sd.isNull() | ((sd >= lo) & (sd <= hi)),
                (sd.cast("long").cast("double") / F.lit(1_000_000.0))
                / F.col("n").cast("double"),
            ).otherwise(
                F.raise_error(
                    F.lit("micros_sum overflow: sum leaves int64")
                ).cast("double")
            ),
        ).alias("vec"),
    )
    cvals = cvals.localCheckpoint(eager=False)
    return cvals.withColumn("norm2", dot(F.col("vec"), F.col("vec")))


def label_centroid_cosines(
    df: DataFrame, vec_col: str, label_col: str, id_out: str = "label", dim: int = 64
) -> DataFrame:
    """Per-label centroid geometry: mean vector per label, then the
    cosine between every label pair — the class-separability
    datasheet row (near-identical centroids = the labels are not
    semantically distinct; a training-data label-noise signal), the
    embedding-space sibling of `textstats.source_ngram_overlap`.

    Output (label_a, label_b, n_a, n_b, cos_centroid) for every
    label_a < label_b; cos_centroid is NULL when either centroid is
    exactly the zero vector.

    Numeric contract: per-dimension sums are exact 1e-6-grid BIGINT
    micros (order-free, overflow-guarded — `micros_sum`), so the
    centroid is ONE deterministic IEEE divide per dimension; dot and
    norms are explicit LEFT-TO-RIGHT double chains over the FIXED
    `dim` terms (the pca.py exception pattern — a Σq² int fold would
    overflow int64 at magnitudes the linear sums handle), written
    identically in the SQL twin; one divide, fixed6 output.

    Plan shape: rows with a NULL label, NULL/short vector or NULL
    element are excluded (contract mirrored by the oracle); ONE
    map-side-combinable aggregate per label (dim+1 columns), then a
    self-join of the n_labels-row centroid table — fixed cost at any
    corpus scale; the corpus is read exactly once."""
    cvals = _label_centroids(df, vec_col, label_col, id_out, dim)
    a = cvals.select(
        F.col(id_out).alias("label_a"),
        F.col("n").alias("n_a"),
        F.col("norm2").alias("norm2_a"),
        F.col("vec").alias("vec_a"),
    )
    b = cvals.select(
        F.col(id_out).alias("label_b"),
        F.col("n").alias("n_b"),
        F.col("norm2").alias("norm2_b"),
        F.col("vec").alias("vec_b"),
    )
    return (
        a.join(F.broadcast(b), F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            "n_a",
            "n_b",
            F.when(
                (F.col("norm2_a") == F.lit(0.0)) | (F.col("norm2_b") == F.lit(0.0)),
                F.lit(None).cast("double"),
            )
            .otherwise(
                _fixed6(
                    dot(F.col("vec_a"), F.col("vec_b"))
                    / (F.sqrt(F.col("norm2_a")) * F.sqrt(F.col("norm2_b")))
                )
            )
            .alias("cos_centroid"),
        )
        .orderBy("label_a", "label_b")
    )


def label_outlier_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Per-label centroid-distance outliers: the k rows of each label
    LEAST cosine-similar to their own label's mean vector — the
    mislabeled-example miner (confident-learning family): a row far
    from its class centroid is the first candidate for label noise or
    an out-of-distribution member.

    Output (label, vec_id, cos_centroid, rank) with rank 1 = farthest.
    Zero-norm rows or a zero-norm centroid score NULL and never
    outrank a defined score (NULLS LAST both engines); exclusion
    contract shared with :func:`label_centroid_cosines` via
    :func:`_label_valid`.

    Plan shape: centroids are ONE map-side aggregate (n_labels rows,
    broadcast back), scoring is a single corpus pass with HOF folds
    (left-to-right, SQL-chain order), and the ranking tail is the
    mandatory two-phase :func:`topk` (ascending), which prunes to
    ≤ k·P survivors before the per-label rank window, so no
    label concentrates the corpus into one task."""
    cents = _label_centroids(df, vec_col, label_col, "label", dim)
    valid = _label_valid(df, vec_col, label_col, dim).select(
        F.col(label_col).alias("label"),
        F.col(id_col),
        _to_double(F.col(vec_col)).alias("vd"),
    )
    scored = (
        valid.join(F.broadcast(cents), "label")
        .withColumn("rn2", dot(F.col("vd"), F.col("vd")))
        .select(
            "label",
            id_col,
            F.when(
                (F.col("norm2") == F.lit(0.0)) | (F.col("rn2") == F.lit(0.0)),
                F.lit(None).cast("double"),
            )
            .otherwise(
                _fixed6(
                    dot(F.col("vd"), F.col("vec"))
                    / (F.sqrt(F.col("rn2")) * F.sqrt(F.col("norm2")))
                )
            )
            .alias("score"),
        )
    )
    return (
        topk(scored, "label", id_col, k, ascending=True)
        .select(
            "label", id_col, F.col("score").alias("cos_centroid"), "rank"
        )
        .orderBy("label", "rank")
    )


def centroid_confusion(
    df: DataFrame, vec_col: str, id_col: str, label_col: str, dim: int = 64
) -> DataFrame:
    """Nearest-centroid confusion matrix: classify every labeled row
    by its most cosine-similar label centroid, then count
    (label_true, label_pred) cells — the dataset-level label-quality
    readout above :func:`label_outlier_topk`'s per-row miner (high
    off-diagonal mass between two labels = the classes are not
    separable in embedding space / systematic mislabeling).

    Prediction = argmax centroid cosine, ties and ordering resolved by
    (score desc NULLS LAST, centroid label asc). Rows with a zero-norm
    vector have no direction and are excluded; zero-norm centroids
    score NULL and can never win over a defined score; rows whose
    every candidate score is NULL are excluded (matching the oracle).

    Plan shape: centroids are one map-side aggregate broadcast back
    (n_labels rows), scoring is a single corpus pass producing
    n_labels candidates per row, the argmax window partitions by the
    ROW (≤ n_labels candidates per partition — bounded, no mega-group,
    the kmeans-assignment precedent), and the confusion cells are one
    map-side-combinable count over ≤ n_labels² groups."""
    cents = _label_centroids(df, vec_col, label_col, "label_pred", dim)
    valid = (
        _label_valid(df, vec_col, label_col, dim)
        .select(
            F.col(label_col).alias("label_true"),
            _to_double(F.col(vec_col)).alias("vd"),
            F.col(id_col).alias("__rid"),
        )
        .withColumn("rn2", dot(F.col("vd"), F.col("vd")))
        .filter(F.col("rn2") != F.lit(0.0))
    )
    scored = valid.crossJoin(F.broadcast(cents)).select(
        "__rid",
        "label_true",
        "label_pred",
        F.when(F.col("norm2") == F.lit(0.0), F.lit(None).cast("double"))
        .otherwise(
            _fixed6(
                dot(F.col("vd"), F.col("vec"))
                / (F.sqrt(F.col("rn2")) * F.sqrt(F.col("norm2")))
            )
        )
        .alias("score"),
    )
    w = Window.partitionBy("__rid").orderBy(
        F.desc_nulls_last("score"), F.asc("label_pred")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & F.col("score").isNotNull())
    )
    return (
        best.groupBy("label_true", "label_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label_true", "label_pred")
    )


def hard_negative_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
) -> DataFrame:
    """Hard-negative mining: for each labeled query, the `k` corpus
    rows MOST similar to it whose label DIFFERS — the contrastive-
    training data-prep operator (the negatives that sit closest to
    the decision boundary are the ones worth training on; random
    negatives are trivially separable).

    Same plan shape as :func:`brute_force_topk`: queries broadcast
    with their labels riding along, corpus streams map-side and the
    label-mismatch predicate prunes candidates BEFORE any ranking
    state, then the two-phase top-k tail. Self-pairs are excluded;
    the label comparison is null-safe (`IS DISTINCT FROM` — a NULL
    corpus label counts as a negative for a labeled query, and
    vice versa, on both engines). Scores carry the exact fixed6
    cosine contract, so rows are directly comparable to
    `brute_force_topk` / `knn_classify` output.

    Output: (query_id, query_label, vec_id, neg_label, score, rank),
    rank 1..k by score descending, ties by id ascending.
    """
    v = with_norm(vectors, vec_col, "__v", "__vn")
    q = with_norm(queries, query_vec_col, "__q", "__qn")
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(
            (F.col(id_col) != F.col(query_id_col))
            & ~F.col(label_col).eqNullSafe(F.col(query_label_col))
        )
        .select(
            F.col(query_id_col),
            F.col(query_label_col),
            F.col(id_col),
            F.col(label_col).alias("neg_label"),
            pair_cosine().alias("score"),
        )
    )
    return topk(scored, query_id_col, id_col, k).select(
        query_id_col, query_label_col, id_col, "neg_label", "score", "rank"
    )


def hard_positive_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
) -> DataFrame:
    """Hard-POSITIVE mining, the mirror of :func:`hard_negative_topk`:
    for each labeled query, the `k` corpus rows LEAST similar to it
    whose label is the SAME — the positives farthest from the anchor
    are the ones a contrastive loss learns the most from (trivially
    close positives contribute no gradient). Label equality is STRICT
    (`=`, NULL never matches NULL): pairing two unlabeled rows as a
    "positive" would be meaningless, unlike the negative miner where
    a NULL label legitimately counts as different.

    Same broadcast-query streaming-corpus plan, the same-label
    predicate prunes before any ranking state, and the two-phase
    top-k tail runs ASCENDING (phase 1 keeps the k smallest;
    NULL scores still sort last in both phases). Output matches the
    negative miner's shape with `pos_label` in place of `neg_label`.
    """
    v = with_norm(vectors, vec_col, "__v", "__vn")
    q = with_norm(queries, query_vec_col, "__q", "__qn")
    scored = (
        v.crossJoin(F.broadcast(q))
        .where(
            (F.col(id_col) != F.col(query_id_col))
            & (F.col(label_col) == F.col(query_label_col))
        )
        .select(
            F.col(query_id_col),
            F.col(query_label_col),
            F.col(id_col),
            F.col(label_col).alias("pos_label"),
            pair_cosine().alias("score"),
        )
    )
    return topk(scored, query_id_col, id_col, k, ascending=True).select(
        query_id_col, query_label_col, id_col, "pos_label", "score", "rank"
    )
