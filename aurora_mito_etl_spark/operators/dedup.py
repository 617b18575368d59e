"""Deduplication operators for training-data pipelines.

Beyond-reference surface (BASELINE.json north star). Five tiers, in
increasing recall / cost:

1. exact        — hash groupBy on a normalized fingerprint (md5).
2. ngram-jaccard— shingle explode + self-join + Jaccard; exact
                  similarity, quadratic only within shared shingles.
3. bottom-k     — portable MinHash-style sketch from md5 shingle
                  hashes (oracle-checkable in any SQL engine).
4. minhash-LSH  — xxhash64 k-permutation signatures, banded into
                  buckets; candidate pairs verified by exact Jaccard.
                  The 100 TB path: cost ≈ O(n·bands) shuffle, no n².
5. simhash      — 64-bit sign-sketch; near-dups = small Hamming
                  distance on banded buckets.

Everything is Catalyst expressions (xxhash64/md5 are JVM builtins);
no Python in any hot path. Tiers 4-5 accept ``portable_hash=True``
to swap xxhash64 for a 60-bit md5-prefix hash reproducible in any
SQL engine, which is how their registered queries are fully
DuckDB-oracle-checked. Pair outputs feed
:func:`near_dedup_survivors` (greedy) or :func:`dedup_clusters`
(transitive, via :func:`connected_components`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aurora_mito_etl_spark.functions.hashing import md5_prefix60
from aurora_mito_etl_spark.functions.numeric import fixed6 as _fixed6
from aurora_mito_etl_spark.operators.textstats import (
    fingerprint_md5,
    shingles,
    shingles_arrow,
)

# Deterministic (a, b) parameters for the k min-hash permutations
# h_i(x) = (a_i * x + b_i) mod p. p = 2^31-1 (Mersenne prime) keeps
# every intermediate below 2^62 — no long overflow under ANSI mode.
# Constants fixed (not runtime-random) so results are reproducible
# across runs and cluster sizes.
_MERSENNE_P = (1 << 31) - 1


# Logical-plan node names that may appear in a pure SCAN CHAIN —
# anything else (Join, Aggregate, Deduplicate, Sort, Union,
# Repartition, ...) marks a DERIVED input: injecting a repartition
# above one of those would add a full extra shuffle of an
# intermediate (or shrink its parallelism), the opposite of what the
# fan-out is for. Exact node names from the ANALYZED plan — a raw
# substring match on the plan string would false-positive on column
# names and string literals ("...contains('Joint venture')").
_SCAN_CHAIN_NODES = ("Project", "Filter", "SubqueryAlias", "View")


def _is_scan_chain(df: DataFrame) -> bool:
    try:
        def walk(node):
            yield node.nodeName()
            ch = node.children()
            for i in range(ch.size()):
                yield from walk(ch.apply(i))

        for name in walk(df._jdf.queryExecution().analyzed()):
            if not (name.endswith("Relation") or name in _SCAN_CHAIN_NODES):
                return False
        return True
    except Exception:  # noqa: BLE001 - unresolvable plan: treat as derived
        return False


def _spread(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism before
    CPU-bound per-document work (shingling is the dedup tier's hot
    loop) — a single small parquet file scans as ONE partition and
    would pin the whole explode on one core.

    Decides from plan metadata only — `df.inputFiles()` plus one
    Hadoop FileSystem status call per file (works for file:/s3a:/hdfs:
    alike; never `df.rdd`, which under AQE would materialize every
    upstream stage at plan-build time). Repartitions only when the
    plan is a pure scan chain (no join/agg/window upstream — those
    already shuffled, and `inputFiles()` would still report the leaf
    files), has fewer files than cores, AND the files are small
    enough that Spark's own split logic can't already produce
    `target` partitions. No-op at scale, where inputs carry far more
    partitions than cores."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 - non-scan plans: leave untouched
        return df
    if not files or len(files) >= target:
        return df
    if not _is_scan_chain(df):
        return df
    raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    try:
        s = raw.strip().lower().removesuffix("b")
        max_split = (
            int(s[:-1]) * units[s[-1]] if s and s[-1] in units else int(s)
        )
    except (ValueError, IndexError):
        max_split = 128 * 1024 * 1024
    max_split = max(max_split, 1)
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        total = 0
        for f in files:
            path = jvm.org.apache.hadoop.fs.Path(f)
            total += path.getFileSystem(hconf).getFileStatus(path).getLen()
    except Exception:  # noqa: BLE001 - unreachable store: leave untouched
        return df
    if total // max_split + 1 >= target:
        return df  # splittable into enough partitions already
    return df.repartition(target)


def _perm_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    # Small deterministic LCG so we don't depend on runtime RNG state.
    params, x = [], seed
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = 1 + (x % (_MERSENNE_P - 1))
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % _MERSENNE_P
        params.append((a, b))
    return params


# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one deterministic representative (min id) per normalized
    content fingerprint. One shuffle on the fingerprint; at 100 TB the
    16-byte key keeps shuffle volume minimal (vs. shuffling raw text).
    """
    fp = fingerprint_md5(F.col(text_col))
    winners = (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(winners, id_col, "left_semi")


def duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-dup groups: fingerprint → count + member ids (diagnostic)."""
    return (
        df.select(fingerprint_md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.count(id_col).alias("n_members"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("n_members") > 1)
    )


# ---------------------------------------------------------------------------
# 2. N-gram Jaccard (exact similarity on candidate pairs)
# ---------------------------------------------------------------------------


def _shingle_overlap(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    max_shingle_docs: int | None,
) -> DataFrame:
    """(id_a, id_b, inter, sz_a, sz_b) for every unordered pair
    (id_a < id_b) sharing at least one k-shingle: the shared-shingle
    count and both documents' distinct-shingle set sizes — the filter
    half that :func:`ngram_jaccard_pairs` and :func:`containment_pairs`
    score differently.

    Plan shape: explode distinct shingles → self-equi-join on shingle
    (co-partitioned shuffle, NOT a cross join) → count intersections →
    join per-doc set sizes. The join key is xxhash64(shingle): 8-byte
    shuffle keys instead of multi-word strings (collision odds ~
    distinct²/2⁶⁴ — nil).

    `max_shingle_docs` caps hot shingles: a shingle occurring in more
    than that many documents is dropped from the JOIN side (set sizes
    keep exact semantics). A boilerplate shingle shared by 10⁶ docs
    otherwise contributes 10¹² join rows — the classic skew killer at
    scale. Intersection counts can only shrink, so similarity is
    underestimated for pairs whose overlap is mostly boilerplate —
    the desirable direction for dedup (boilerplate overlap is not
    near-duplication). None = exact.

    The (id, shingle-hash) table feeds three plan branches (sizes +
    both join sides). Recomputing the (cheap, codegen'd) shingle
    explode per branch measures FASTER on local[N] than caching it —
    MEMORY_AND_DISK materialization of the exploded table costs more
    than the recompute; at 100 TB materialize the shingle table to
    Parquet once instead."""
    sh = (
        _spread(df)
        .select(F.col(id_col), F.explode(shingles_arrow(F.col(text_col), k)).alias("s"))
        .select(F.col(id_col), F.xxhash64("s").alias("sh"))
        .distinct()
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    joinable = sh
    if max_shingle_docs is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_shingle_docs)
            .select("sh")
        )
        joinable = sh.join(hot, "sh", "left_anti")
    a = joinable.select(F.col(id_col).alias("id_a"), "sh")
    b = joinable.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return inter.join(
        sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a"
    ).join(
        sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_docs: int | None = None,
) -> DataFrame:
    """All pairs (a < b) with shingle-set Jaccard >= threshold.

    Candidates and counts come from :func:`_shingle_overlap` (see
    there for the plan shape and the `max_shingle_docs` hot-shingle
    cap, default None = exact); Jaccard is
    ``inter / (sz_a + sz_b - inter)``.
    """
    return (
        _shingle_overlap(df, text_col, id_col, k, max_shingle_docs)
        .withColumn(
            "jaccard",
            _fixed6(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# 3. Portable bottom-k sketch (md5-based — oracle-checkable)
# ---------------------------------------------------------------------------


def bottom_k_sketch(df: DataFrame, text_col: str, id_col: str, k: int = 3, sketch_size: int = 8) -> DataFrame:
    """MinHash-style bottom-k sketch: the `sketch_size` smallest md5
    hex digests of the doc's k-shingles. md5 is identical in every
    engine, so this sketch is exactly reproducible by a SQL oracle.
    """
    sh = shingles_arrow(F.col(text_col), k)
    hashed = F.transform(sh, lambda s: F.md5(s))
    sketch = F.slice(F.sort_array(F.array_distinct(hashed)), 1, sketch_size)
    return df.select(F.col(id_col), sketch.alias("sketch"))


# ---------------------------------------------------------------------------
# 4. MinHash + LSH (the scale path)
# ---------------------------------------------------------------------------


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    portable_hash: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, verified by exact Jaccard.

    Shuffle cost O(n·bands) on (band_id, band_hash) — this is the
    operator that replaces the O(n²) join at 100 TB. Candidates from
    any shared band are verified with exact shingle Jaccard so the
    output has no false positives (false negatives bounded by the
    (bands, rows) S-curve).

    `portable_hash=True` swaps xxhash64 for a 60-bit md5-prefix hash
    and the band hash for an md5 string — both computable identically
    in any SQL engine, making the whole operator (candidates AND
    verification) DuckDB-oracle-checkable. xxhash64 (the default) is
    ~3× faster; same semantics up to hash function.

    `max_bucket_size` caps hot LSH buckets, mirroring
    `ngram_jaccard_pairs`'s hot-shingle cap: a (band, band-hash)
    bucket with more than that many members is dropped from candidate
    generation. A bucket of m near-identical docs otherwise yields
    m²/2 candidate pairs in ONE task — the skew killer when a corpus
    contains a million-copy boilerplate cluster. Effect on results:
    pairs inside dropped mega-buckets can only be proposed by their
    other bands; in practice run `exact_dedup` first so identical-copy
    clusters never reach LSH. Default None = exact current semantics
    (the oracle-checked registered queries use None).
    """
    hashed = _minhash_hashed(df, text_col, id_col, k_shingle, portable_hash)
    stacked = _minhash_banded(hashed, id_col, num_hashes, bands, portable_hash)
    joinable = _drop_hot_buckets(stacked, max_bucket_size)

    left = joinable.select(F.col(id_col).alias("id_a"), "band", "bh")
    right = joinable.select(F.col(id_col).alias("id_b"), "band", "bh")
    candidates = (
        left.join(right, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_verify(
        candidates, hashed, hashed, id_col, "id_a", "id_b", threshold
    )


def minhash_est_audit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.3,
) -> DataFrame:
    """Signature-accuracy audit of the MinHash-LSH index — the text
    twin of the IVF-PQ recall diagnostic (`quantize.ivfpq_rerank` /
    `emb_ivfpq_recall`): measure, on the real corpus, how well the
    k-slot signature estimate predicts exact Jaccard over the banded
    CANDIDATE pairs, and what precision each estimate level buys.

    One row per distinct signature-match count (0..num_hashes):

      matches      — # equal signature slots (the estimator numerator)
      est_jaccard  — matches / num_hashes (the textbook MinHash
                     estimate, fixed6)
      n_pairs      — banded candidate pairs at this match count
      n_true       — of those, pairs whose EXACT shingle Jaccard
                     clears `threshold` (the verify bar)
      precision    — n_true / n_pairs (fixed6)
      mean_exact   — mean exact Jaccard (fixed6; exact 1e-6-grid
                     integer sum, order-free)

    This is the measured S-curve the (num_hashes, bands) tuning
    decision needs: if high-match candidates show low precision the
    bands are too coarse; if the audit never sees low-exact pairs the
    banding wastes verify work. Plan shape: the SAME O(n·bands)
    banded-candidate chain as :func:`minhash_lsh_pairs` (no n² —
    auditing only what the index proposes), two keyed joins back to
    the signature table, exact-Jaccard verify on candidates only,
    then a ≤ num_hashes+1-row map-side-combinable aggregate. Portable
    md5 hashes so candidates, signatures AND verification replay in
    the DuckDB oracle."""
    from aurora_mito_etl_spark.functions.numeric import micros6, micros_sum

    hashed = _minhash_hashed(df, text_col, id_col, k_shingle, portable_hash=True)
    # ONE signature aggregate feeds both the banding and the per-slot
    # equality joins — building them independently would re-run the
    # shingle-explode + md5 + 16-MIN pipeline (the family's hottest
    # stage) twice.
    sigs = _minhash_sigs(hashed, id_col, num_hashes)
    stacked = _bands_from_sigs(sigs, id_col, num_hashes, bands, portable_hash=True)
    left = stacked.select(F.col(id_col).alias("id_a"), "band", "bh")
    right = stacked.select(F.col(id_col).alias("id_b"), "band", "bh")
    candidates = (
        left.join(right, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # threshold 0.0 keeps EVERY candidate (exact jaccard >= 0 always):
    # the audit must see the false positives the filter would drop.
    verified = _jaccard_verify(
        candidates, hashed, hashed, id_col, "id_a", "id_b", 0.0
    )
    sig_a = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    sig_b = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    match_expr = None
    for i in range(num_hashes):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        match_expr = term if match_expr is None else match_expr + term
    pairs = (
        verified.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .select(
            match_expr.alias("matches"),
            F.col("jaccard"),
        )
    )
    agg = pairs.groupBy("matches").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when(F.col("jaccard") >= F.lit(threshold), F.lit(1)).otherwise(
                F.lit(0)
            ).cast("long")
        ).alias("n_true"),
        micros_sum(micros6(F.col("jaccard")), "sum_micros"),
    )
    return agg.select(
        F.col("matches"),
        _fixed6(F.col("matches").cast("double") / F.lit(float(num_hashes))).alias(
            "est_jaccard"
        ),
        F.col("n_pairs"),
        F.col("n_true"),
        _fixed6(
            F.col("n_true").cast("double") / F.col("n_pairs").cast("double")
        ).alias("precision"),
        _fixed6(
            F.col("sum_micros").cast("double")
            / (F.col("n_pairs").cast("double") * F.lit(1_000_000.0))
        ).alias("mean_exact"),
    ).orderBy("matches")


def _minhash_hashed(
    df: DataFrame, text_col: str, id_col: str, k_shingle: int, portable_hash: bool
) -> DataFrame:
    """(id, shingle-hash) — ONE shingle-explode expression feeds
    signatures AND verification sets (recompute beats cache
    materialization here, same reasoning as ngram_jaccard_pairs)."""
    shingle = _spread(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_arrow(F.col(text_col), k_shingle))).alias("s"),
    )
    h_expr = md5_prefix60(F.col("s")) if portable_hash else F.xxhash64("s")
    return shingle.select(F.col(id_col), h_expr.alias("h"))


def _minhash_sigs(hashed: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """(id, m0..m{k-1}) k-permutation signature table from the shared
    (id, shingle-hash) frame — ONE hash aggregate, map-side partial."""
    return hashed.select(
        F.col(id_col), F.pmod(F.col("h"), F.lit(_MERSENNE_P)).alias("hm")
    ).groupBy(id_col).agg(
        *[
            F.min(
                F.pmod(F.lit(a) * F.col("hm") + F.lit(b), F.lit(_MERSENNE_P))
            ).alias(f"m{i}")
            for i, (a, b) in enumerate(_perm_params(num_hashes))
        ]
    )


def _minhash_banded(
    hashed: DataFrame, id_col: str, num_hashes: int, bands: int, portable_hash: bool
) -> DataFrame:
    """(id, band, band-hash) — k-permutation signatures folded into
    per-band keys and stacked one row per band."""
    sigs = _minhash_sigs(hashed, id_col, num_hashes)
    return _bands_from_sigs(sigs, id_col, num_hashes, bands, portable_hash)


def _bands_from_sigs(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int, portable_hash: bool
) -> DataFrame:
    """Banding half of :func:`_minhash_banded`, taking a prebuilt
    signature table — callers that ALSO need the signatures
    (:func:`minhash_est_audit`) reuse one aggregate instead of
    re-running the shingle-explode + hash + 16-MIN pipeline twice."""
    rows_per_band = num_hashes // bands
    if portable_hash:
        band_cols = [
            F.md5(
                F.concat_ws(
                    ",",
                    F.lit(str(i)),
                    *[F.col(f"m{i * rows_per_band + r}") for r in range(rows_per_band)],
                )
            ).alias(f"band_{i}")
            for i in range(bands)
        ]
    else:
        band_cols = [
            F.xxhash64(
                F.lit(i),
                *[F.col(f"m{i * rows_per_band + r}") for r in range(rows_per_band)],
            ).alias(f"band_{i}")
            for i in range(bands)
        ]
    banded = sigs.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band"), F.col(f"band_{i}").alias("bh"))
                for i in range(bands)
            ])
        ).alias("e"),
    ).select(F.col(id_col), F.col("e.band"), F.col("e.bh"))


def _drop_hot_buckets(stacked: DataFrame, max_bucket_size: int | None) -> DataFrame:
    if max_bucket_size is None:
        return stacked
    hot = (
        stacked.groupBy("band", "bh")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > max_bucket_size)
        .select("band", "bh")
    )
    return stacked.join(hot, ["band", "bh"], "left_anti")


def _jaccard_verify_sets(
    candidates: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard over prebuilt (id, shs) shingle-hash-set tables —
    shared by the recompute path and the persisted-corpus path."""
    return (
        candidates.join(
            sets_a.select(F.col(id_col).alias(a_col), F.col("shs").alias("shs_a")),
            a_col,
        )
        .join(
            sets_b.select(F.col(id_col).alias(b_col), F.col("shs").alias("shs_b")),
            b_col,
        )
        .withColumn("inter", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard",
            _fixed6(
                F.col("inter").cast("double")
                / (F.size("shs_a") + F.size("shs_b") - F.col("inter")).cast("double")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(a_col, b_col, "jaccard")
    )


def _jaccard_verify(
    candidates: DataFrame,
    hashed_a: DataFrame,
    hashed_b: DataFrame,
    id_col: str,
    a_col: str,
    b_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard over distinct shingle-hash sets (the same hashed
    tables that fed the signatures — no re-shingling)."""
    sh_a = hashed_a.groupBy(id_col).agg(F.collect_set("h").alias("shs"))
    sh_b = hashed_b.groupBy(id_col).agg(F.collect_set("h").alias("shs"))
    return _jaccard_verify_sets(
        candidates, sh_a, sh_b, id_col, a_col, b_col, threshold
    )


def minhash_lsh_join(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    portable_hash: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental near-dup: (new_id, corpus_id, jaccard) pairs
    between a NEW batch and the EXISTING corpus — the per-release
    dedup pattern that avoids re-pairing the whole corpus.

    Same banded-signature machinery as :func:`minhash_lsh_pairs`, but
    the band join is strictly cross-side, so candidate cost is
    O(new·bands) probes into corpus buckets rather than a corpus
    self-join. At 100 TB the corpus side's (id, band, bh) table and
    shingle-hash sets are computed once and persisted (bucketed by
    (band, bh)); each release only hashes the new batch. Ids must be
    distinct across the two inputs. The hot-bucket cap applies to the
    corpus side's buckets (the side that can contain mega-clusters).

    Output column names: ``new_id``, ``corpus_id``, ``jaccard``.
    """
    hashed_new = _minhash_hashed(new_df, text_col, id_col, k_shingle, portable_hash)
    hashed_corp = _minhash_hashed(corpus_df, text_col, id_col, k_shingle, portable_hash)
    stacked_new = _minhash_banded(hashed_new, id_col, num_hashes, bands, portable_hash)
    stacked_corp = _drop_hot_buckets(
        _minhash_banded(hashed_corp, id_col, num_hashes, bands, portable_hash),
        max_bucket_size,
    )
    candidates = (
        stacked_new.select(F.col(id_col).alias("new_id"), "band", "bh")
        .join(stacked_corp.select(F.col(id_col).alias("corpus_id"), "band", "bh"),
              ["band", "bh"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    return _jaccard_verify(
        candidates, hashed_new, hashed_corp, id_col, "new_id", "corpus_id", threshold
    )


def persist_corpus_index(
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    table_prefix: str,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    portable_hash: bool = False,
    num_buckets: int = 32,
) -> tuple[str, str]:
    """Materialize the corpus side of :func:`minhash_lsh_join` ONCE,
    as the docstring there promises: per release you pay only the new
    batch's hashing, never the corpus's.

    Writes two bucketed managed tables (returned as names):

    - ``{prefix}_bands`` — (id, band, bh), bucketed by (band, bh):
      the band probe join against a new batch needs NO corpus-side
      Exchange (the bucketing is the exchange, paid once here).
    - ``{prefix}_shingles`` — (id, shs), bucketed by id: the Jaccard
      verify join on corpus_id is likewise corpus-side Exchange-free.

    Re-running overwrites (idempotent re-index). Use the same
    (k_shingle, num_hashes, bands, portable_hash) in
    :func:`minhash_lsh_join_persisted` — band hashes are a function of
    those parameters, so a mismatch silently yields no candidates.
    Pinned by tests/test_bucketing_jsonl.py.
    """
    from aurora_mito_etl_spark.sources.io import write_bucketed_table

    hashed = _minhash_hashed(corpus_df, text_col, id_col, k_shingle, portable_hash)
    stacked = _minhash_banded(hashed, id_col, num_hashes, bands, portable_hash)
    sets = hashed.groupBy(id_col).agg(F.collect_set("h").alias("shs"))
    bands_table = f"{table_prefix}_bands"
    sets_table = f"{table_prefix}_shingles"
    write_bucketed_table(
        stacked, bands_table, ["band", "bh"], num_buckets=num_buckets
    )
    write_bucketed_table(sets, sets_table, [id_col], num_buckets=num_buckets)
    return bands_table, sets_table


def minhash_lsh_join_persisted(
    spark: SparkSession,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    table_prefix: str,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    portable_hash: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """:func:`minhash_lsh_join` against a corpus index persisted by
    :func:`persist_corpus_index`: only the NEW batch is shingled and
    banded; the corpus arrives pre-bucketed, so both corpus-side joins
    (band probe, Jaccard verify) run without shuffling the corpus.
    The hot-bucket cap is applied at query time over the (small)
    persisted bands table, so the cap can be tuned per release without
    re-indexing. Output columns: ``new_id``, ``corpus_id``,
    ``jaccard`` — identical to the recompute path (parity pinned by
    tests/test_bucketing_jsonl.py).
    """
    hashed_new = _minhash_hashed(new_df, text_col, id_col, k_shingle, portable_hash)
    stacked_new = _minhash_banded(hashed_new, id_col, num_hashes, bands, portable_hash)
    stacked_corp = _drop_hot_buckets(
        spark.table(f"{table_prefix}_bands"), max_bucket_size
    )
    candidates = (
        stacked_new.select(F.col(id_col).alias("new_id"), "band", "bh")
        .join(stacked_corp.select(F.col(id_col).alias("corpus_id"), "band", "bh"),
              ["band", "bh"])
        .select("new_id", "corpus_id")
        .distinct()
    )
    sets_new = hashed_new.groupBy(id_col).agg(F.collect_set("h").alias("shs"))
    return _jaccard_verify_sets(
        candidates,
        sets_new,
        spark.table(f"{table_prefix}_shingles"),
        id_col,
        "new_id",
        "corpus_id",
        threshold,
    )


def index_snapshot(
    spark: SparkSession,
    table: str,
    text_col: str,
    id_col: str,
    index_base: str,
    version: int | None = None,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    portable_hash: bool = False,
    num_buckets: int = 32,
) -> tuple[str, str]:
    """Persist the LSH corpus index for ONE snapshot version of a
    manifest-controlled table (`sources/merge.py`): the index tables
    carry the version in their names (``{base}_v{V:05d}_bands`` /
    ``_shingles``), so a release pipeline can always answer "which
    corpus state does this index cover" from the catalog alone —
    the r12 VERDICT cross-release wiring. Defaults to the latest
    version. Idempotent per version (overwrite re-index)."""
    from aurora_mito_etl_spark.sources import merge as mg

    versions = mg.snapshot_versions(table)
    if not versions:
        raise ValueError(f"{table} has no snapshots — snapshot_init first")
    v = versions[-1] if version is None else version
    corpus = mg.read_snapshot(spark, table, v)
    return persist_corpus_index(
        corpus,
        text_col,
        id_col,
        f"{index_base}_v{v:05d}",
        k_shingle=k_shingle,
        num_hashes=num_hashes,
        bands=bands,
        portable_hash=portable_hash,
        num_buckets=num_buckets,
    )


def cross_release_near_dup(
    spark: SparkSession,
    table: str,
    text_col: str,
    id_col: str,
    index_base: str,
    prior_version: int | None = None,
    new_version: int | None = None,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    portable_hash: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Release N+1 near-dup'd against release N WITHOUT re-reading
    release N (r12 VERDICT ask #7) — the documented recipe gluing the
    snapshot manifests (`sources/merge.py`) to the persisted LSH index
    (:func:`persist_corpus_index` via :func:`index_snapshot`):

    1. the NEW side is the manifest diff (`merge.release_delta`) —
       only files added between the versions are opened;
    2. rewritten survivor rows riding in those files (same id as in
       release N) are anti-joined away against the id column of the
       PRIOR index's shingle table — reading the index, not the data
       (and satisfying the distinct-ids contract of the LSH join);
    3. the banded probe + Jaccard verify run through
       :func:`minhash_lsh_join_persisted`, so the corpus side arrives
       pre-bucketed and shuffle-free.

    Per release the cost is O(delta) hashing plus bucket probes —
    release N's text is never re-shingled, its data files never
    re-opened. Defaults: prior = latest-1, new = latest. The prior
    version must have been indexed with `index_snapshot` under the
    SAME LSH parameters. Output: (new_id, corpus_id, jaccard)."""
    from aurora_mito_etl_spark.sources import merge as mg

    versions = mg.snapshot_versions(table)
    if len(versions) < 2 and (prior_version is None or new_version is None):
        raise ValueError(
            f"{table} needs two snapshot versions for a cross-release "
            f"dedup; found {versions}"
        )
    prior = versions[-2] if prior_version is None else prior_version
    new_v = versions[-1] if new_version is None else new_version
    prefix = f"{index_base}_v{prior:05d}"
    delta = mg.release_delta(spark, table, prior, new_v)
    prior_ids = spark.table(f"{prefix}_shingles").select(id_col)
    fresh = delta.join(prior_ids, id_col, "anti")
    return minhash_lsh_join_persisted(
        spark,
        fresh,
        text_col,
        id_col,
        prefix,
        k_shingle=k_shingle,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        portable_hash=portable_hash,
        max_bucket_size=max_bucket_size,
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node connects its strictly-larger
    neighbors to the minimum of its neighborhood (incl. itself)."""
    both = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = both.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        both.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: edges are oriented (hi, lo); every hi
    node links each smaller neighbor — and itself — to the minimum."""
    hi_lo = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = hi_lo.groupBy("u").agg(F.min("v").alias("m"))
    relinked = (
        hi_lo.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return relinked


def connected_components(
    pairs: DataFrame, max_iter: int = 20
) -> DataFrame:
    """(id, component): connected components over near-dup pair edges
    via alternating large-star/small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    principled clustering behind transitive dedup (chain a~b~c lands
    in ONE component even when a!~c directly).

    Converges in O(log² n) rounds regardless of component shape —
    min-label propagation needs O(diameter) rounds, which a giant or
    chain-shaped dup component (the common web-crawl case: boilerplate
    connecting millions of docs) turns into dozens of shuffles. Each
    round is two groupBy-min shuffles; localCheckpoint() truncates
    lineage. Exact convergence check (exceptAll, not a checksum);
    refuses rather than silently splitting a component when max_iter
    is exhausted.
    """
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # lazy (r14): the count() just below materializes the
        # checkpoint in the same job instead of a separate eager one
        .localCheckpoint(eager=False)
    )
    # nodes is consumed exactly ONCE (the final left join), so it
    # stays LAZY over the checkpointed initial edges — the eager
    # checkpoint it used to carry was one full job that bought
    # nothing (r13, guide §1.2: don't compute what you don't reuse).
    nodes = (
        edges.select(F.col("u").alias("id"))
        .union(edges.select(F.col("v").alias("id")))
        .distinct()
    )
    converged = False
    # carry the edge count across rounds: last round's new_edges.count()
    # IS this round's edges.count() — re-counting it paid one job per
    # round (r13; the check itself stays EXACT, not a checksum).
    n_edges = edges.count()
    for _ in range(max_iter):
        new_edges = _small_star(_large_star(edges)).localCheckpoint(
            eager=False
        )
        n_new = new_edges.count()
        same = (
            n_new == n_edges
            and new_edges.exceptAll(edges).limit(1).count() == 0
        )
        edges = new_edges
        n_edges = n_new
        if same:
            converged = True
            break
    if not converged:
        # the result would silently split components — refuse instead
        # (duplicates surviving defeats the operator).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter"
        )
    # at the fixed point edges form stars (child -> component root)
    star = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return (
        nodes.join(star, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
        # materialize the RESULT once (component-table-sized): every
        # caller references it several times (label votes, winners,
        # final corpus join) and would otherwise re-execute the
        # nodes-distinct + star join per reference (r13; this also
        # lets `nodes` above stay lazy).
        .localCheckpoint(eager=False)
    )


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Transitive near-dedup: keep the minimum id of each connected
    component (plus all unpaired docs)."""
    comp = connected_components(pairs)
    winners = comp.groupBy("component").agg(F.min("id").alias(id_col))
    losers = comp.join(
        winners.select(F.col(id_col).alias("id")), "id", "left_anti"
    ).select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def near_dedup_survivors(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Survivors after near-dup removal: drop every doc that appears
    as the LARGER id of a pair (pairs carry id_a < id_b), keeping the
    smallest id of each dup cluster's pairwise edges.

    This is the standard greedy policy of production dedup pipelines
    (each doc is dropped if ANY smaller near-dup exists) — one anti
    join, no iterative connected components. For chain a~b~c it drops
    b and c even if a!~c; the conservative direction for training
    data (never keeps two near-dups).
    """
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# 5. SimHash
# ---------------------------------------------------------------------------


def simhash64_df(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int = 3,
    n_bits: int = 64,
    portable_hash: bool = False,
) -> DataFrame:
    """(id, sh64): n_bits-bit SimHash of each document's shingle set.

    Plan shape: explode distinct shingles → hash → ONE hash aggregate
    with `n_bits` `sum(±1 per bit)` columns (map-side partial agg,
    all codegen'd) → fold the sign bits into a long. This replaces a
    per-row higher-order fold over 64-slot arrays, which built a
    multi-megabyte expression tree and ran ~100× slower.

    `portable_hash=True` uses the 60-bit md5-prefix hash (n_bits must
    be ≤ 60) so the sketch is bit-identical in any SQL engine.
    """
    if portable_hash:
        assert n_bits <= 60, "md5-prefix hash provides 60 bits"
        h_expr = md5_prefix60(F.col("s"))
    else:
        h_expr = F.xxhash64("s")
    hashed = _spread(df).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_arrow(F.col(text_col), k_shingle))
        ).alias("s"),
    ).select(F.col(id_col), h_expr.alias("h"))
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.getbit(F.col("h"), F.lit(b)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(n_bits)
        ]
    )
    # +2^b per positive-vote bit; bit 63 (if used) is the
    # two's-complement min-long term.
    acc = F.lit(0).cast("long")
    for b in range(n_bits):
        acc = acc + F.when(
            F.col(f"b{b}") > 0,
            F.lit(1 << b if b < 63 else -(1 << 63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
    # Docs with no shingles (< k words) drop out — they have no
    # content signature, and keeping them at sh64=0 would make every
    # pair of short docs a spurious hamming-0 "duplicate" (MinHash
    # signatures drop them the same way).
    return votes.select(F.col(id_col), acc.alias("sh64"))


def banded_hamming_pairs(
    hashed: DataFrame,
    id_col: str,
    hash_col: str,
    band_bits: int,
    n_bands: int,
    max_hamming: int,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Shared candidate generation for Hamming-similarity search over
    a 64-bit-or-less hash column: explode n_bands bit-slices, self-join
    on (band, slice), verify with bit_count(xor).

    Recall guarantee: any pair within Hamming ≤ n_bands−1 shares at
    least one exact band (pigeonhole); pairs with distance in
    (n_bands−1, max_hamming] are found only if their differing bits
    cluster outside one band — callers trading recall at wider radii
    should say so (see simhash_pairs / phash_near_dup_pairs).

    `max_bucket_size` drops (band, slice) buckets above the cap from
    the join — the same mega-cluster skew guard as
    `minhash_lsh_pairs`; identical-sketch clusters otherwise build
    m²/2 candidates in one task. Default None = exact.
    """
    mask = (1 << band_bits) - 1
    bands = hashed.select(
        F.col(id_col),
        F.col(hash_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col(hash_col), i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bh"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("e"),
    ).select(F.col(id_col), F.col(hash_col), F.col("e.band"), F.col("e.bh"))
    if max_bucket_size is not None:
        hot = (
            bands.groupBy("band", "bh")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_bucket_size)
            .select("band", "bh")
        )
        bands = bands.join(hot, ["band", "bh"], "left_anti")
    left = bands.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("h_a"), "band", "bh"
    )
    right = bands.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("h_b"), "band", "bh"
    )
    return (
        left.join(right, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k_shingle: int = 3,
    max_hamming: int = 8,
    portable_hash: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Candidate generation by 4-band equality (any doc pair within
    Hamming ≤ 3 shares at least one exact band; wider radii trade
    recall) — the banding keeps this O(n) shuffle at scale.

    `portable_hash=True` computes a 60-bit engine-portable sketch
    (4×15-bit bands) so the whole operator is oracle-checkable.
    """
    n_bits, band_bits = (60, 15) if portable_hash else (64, 16)
    sh = simhash64_df(
        df, text_col, id_col, k_shingle, n_bits=n_bits, portable_hash=portable_hash
    )
    return banded_hamming_pairs(
        sh, id_col, "sh64", band_bits=band_bits, n_bands=4,
        max_hamming=max_hamming, max_bucket_size=max_bucket_size,
    )


# ---------------------------------------------------------------------------
# 7. Cross-document duplicate spans (exact substring dedup)
# ---------------------------------------------------------------------------


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 10,
    min_span_tokens: int = 20,
    max_window_docs: int | None = None,
    portable_hash: bool = False,
) -> DataFrame:
    """Maximal verbatim token runs shared between document pairs —
    word-granularity exact substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better":
    suffix-array substring dedup; here the suffix array is replaced
    by a shuffle-native formulation).

    Positional k-token windows hash and self-equi-join (the
    ngram_jaccard co-partitioned shape — never a cross join); a
    contiguous shared run lies on one DIAGONAL (pos_a − pos_b
    constant), so consecutive matches collapse with the islands-and-
    gaps trick (pos_a − row_number) and each island is one maximal
    span: (id_a, id_b, start_a, start_b, span_tokens), kept when
    span_tokens >= `min_span_tokens`.

    Scale: join volume is Σ_w df(w)² over window hashes — verbatim
    boilerplate is the skew risk, so `max_window_docs` drops windows
    appearing in more than that many documents from the join
    (detected spans can only shrink — the conservative direction, and
    boilerplate suppression is exactly what the cap targets). The
    only corpus-sized shuffles are the window join and the per-
    (pair, diagonal) island window.
    """
    h_expr = (
        md5_prefix60(F.col("s")) if portable_hash else F.xxhash64("s")
    )
    w = (
        _spread(df)
        .select(
            F.col(id_col),
            F.posexplode(shingles_arrow(F.col(text_col), k)).alias("pos", "s"),
        )
        .select(F.col(id_col), F.col("pos"), h_expr.alias("h"))
    )
    if max_window_docs is not None:
        hot = (
            w.groupBy("h")
            .agg(F.countDistinct(id_col).alias("df"))
            .filter(F.col("df") > max_window_docs)
            .select("h")
        )
        w = w.join(hot, "h", "left_anti")
    a = w.select(F.col(id_col).alias("id_a"), F.col("pos").alias("pa"), "h")
    b = w.select(F.col(id_col).alias("id_b"), F.col("pos").alias("pb"), "h")
    m = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("d"))
    )
    isl = Window.partitionBy("id_a", "id_b", "d").orderBy("pa")
    g = m.withColumn("island", F.col("pa") - F.row_number().over(isl))
    return (
        g.groupBy("id_a", "id_b", "d", "island")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            (F.max("pa") - F.min("pa") + k).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span_tokens)
        .select("id_a", "id_b", "start_a", "start_b", "span_tokens")
    )


def exact_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    max_window_docs: int | None = None,
) -> DataFrame:
    """Per-document maximal corpus-duplicated token spans — the
    span-REMOVAL half of Lee et al. 2022's ExactSubstr dedup
    ("Deduplicating Training Data Makes Language Models Better" §3.2:
    delete every substring of >= L tokens that appears more than once
    in the corpus).

    The paper's suffix array is replaced by a shuffle-native exact
    formulation: any duplicated substring of >= k tokens is covered by
    duplicated k-token windows, and the union of those windows'
    [pos, pos+k) intervals IS the exact set of duplicated spans — so
    one positional-window explode, one count aggregate, one occurrence
    join-back and a per-document interval merge reproduce the suffix
    array's answer at window grain k. Unlike :func:`duplicate_spans`
    (which enumerates pair evidence and bends quadratic in Σ df²),
    this never builds pairs: cost is LINEAR in total windows at every
    duplication density, which is what makes it the 100 TB path.

    Windows are keyed by the portable 60-bit md5 prefix
    (functions/hashing.md5_prefix60): a collision can only OVER-mark a
    span (conservative for removal) and the DuckDB oracle uses the
    identical key, so results stay engine-exact. Returns
    (id, span_start, span_end, n_windows): token-index half-open
    [start, end) maximal merged spans plus the number of duplicated
    windows merged into each.

    `max_window_docs` drops windows occurring in more than that many
    DOCUMENTS from marking (the duplicate_spans hot cap — boilerplate
    suppression belongs to the boilerplate operator); spans can only
    shrink, the conservative direction.
    """
    w = (
        _spread(df)
        .select(
            F.col(id_col),
            F.posexplode(shingles_arrow(F.col(text_col), k)).alias("pos", "s"),
        )
        .select(F.col(id_col), F.col("pos"), md5_prefix60(F.col("s")).alias("h"))
    )
    # countDistinct only when the hot cap needs it: unconditional, it
    # forces an Expand + second aggregation pass over the TOTAL-windows
    # frame — the largest frame on the 100 TB path (r10 ADVICE).
    if max_window_docs is not None:
        counts = w.groupBy("h").agg(
            F.count("*").alias("n"), F.countDistinct(id_col).alias("ndocs")
        )
        dup = counts.filter(
            (F.col("n") >= 2) & (F.col("ndocs") <= max_window_docs)
        )
    else:
        dup = w.groupBy("h").agg(F.count("*").alias("n")).filter(F.col("n") >= 2)
    marked = w.join(dup.select("h"), "h").select(
        F.col(id_col), F.col("pos"), (F.col("pos") + k).alias("end")
    )
    # classic interval union per document: a window starting past the
    # running max end of every PRECEDING window opens a new span
    # (all intervals have equal length k and are scanned in pos order,
    # so "preceding max end" is just the previous row's end, but the
    # running-max form stays correct for any future variable-k use)
    by_pos = Window.partitionBy(id_col).orderBy(F.col("pos").asc_nulls_last())
    run_max = F.max("end").over(
        by_pos.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_span = (
        F.when(F.col("pos") > F.coalesce(run_max, F.lit(-1)), 1)
        .otherwise(0)
        .alias("ns")
    )
    sid = marked.select(id_col, "pos", "end", new_span).select(
        id_col,
        "pos",
        "end",
        F.sum("ns").over(by_pos.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "sid"
        ),
    )
    return (
        sid.groupBy(id_col, "sid")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            F.max("end").cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def dedup_clusters_best(
    df: DataFrame, pairs: DataFrame, id_col: str, priority_col: str
) -> DataFrame:
    """Transitive near-dedup keeping the HIGHEST-priority doc of each
    connected component (ties → smallest id), plus all unpaired docs.

    The production "keep best" refinement of :func:`dedup_clusters`:
    instead of min-id, each cluster's survivor is the argmax of a
    caller-supplied priority column (text length, quality score, …) —
    the policy that keeps the canonical copy of a mirrored page rather
    than whichever crawl got the smaller id.

    Plan shape: components via large-star/small-star, then two
    aggregations on the component key (max priority, then min id among
    the maxima) — the second join/groupBy reuses the same shuffle key,
    and clusters are tiny relative to the corpus, so the extra
    exchange is on the (small) component table only.
    """
    comp = connected_components(pairs)
    scored = comp.join(
        df.select(F.col(id_col).alias("id"), F.col(priority_col).alias("__p")),
        "id",
    )
    best = scored.groupBy("component").agg(F.max("__p").alias("__mp"))
    winners = (
        scored.join(best, "component")
        .filter(F.col("__p") == F.col("__mp"))
        .groupBy("component")
        .agg(F.min("id").alias("id"))
        .select("id")
    )
    losers = comp.join(winners, "id", "left_anti").select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def label_spread(
    df: DataFrame, pairs: DataFrame, id_col: str, label_col: str
) -> DataFrame:
    """(id, seed_label, label): propagate seed labels through near-dup
    connected components — the production move that extends a sparse
    labeled set (human quality ratings, language tags, license
    verdicts) to every member of each duplicate cluster.

    Each component's label is the MAJORITY of its non-NULL seed
    labels, ties → lexicographically smallest label (binary string
    order — identical to the oracle on the ASCII label domains this
    engine uses); rows in all-unlabeled components, and rows in no
    component at all, keep their own seed (NULL stays NULL).

    Plan shape: components via large-star/small-star, then two
    aggregations + one join on the component key — clusters are tiny
    relative to the corpus, so every post-CC exchange is on the small
    component table; the full corpus is touched only by the final
    left join."""
    comp = connected_components(pairs)
    lab = df.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("__seed")
    ).join(comp, "id", "left")
    votes = (
        lab.where(F.col("component").isNotNull() & F.col("__seed").isNotNull())
        .groupBy("component", "__seed")
        .agg(F.count("*").alias("__n"))
    )
    top = votes.groupBy("component").agg(F.max("__n").alias("__mx"))
    winners = (
        votes.join(top, "component")
        .filter(F.col("__n") == F.col("__mx"))
        .groupBy("component")
        .agg(F.min("__seed").alias("__win"))
    )
    return (
        lab.join(winners, "component", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("__seed").alias("seed_label"),
            F.coalesce("__win", "__seed").alias("label"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_docs: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup: directed pairs where one document's
    shingle set is mostly CONTAINED in another's —
    ``containment(inner→outer) = |S(inner) ∩ S(outer)| / |S(inner)|``.

    Jaccard misses the excerpt/quote case by construction: a 50-token
    quote inside a 5,000-token article has Jaccard ≈ 0.01 but
    containment ≈ 1.0. This is the Broder containment measure — the
    right trigger for "drop the fragment, keep the superset" policies
    in corpus dedup.

    Same shared-shingle join and hot-shingle cap as
    :func:`ngram_jaccard_pairs` (:func:`_shingle_overlap` computes the
    intersection once per unordered pair; both directed containments
    derive from it).
    Output: (inner_id, outer_id, containment) for every direction
    meeting the threshold — near-identical pairs appear in both
    directions.
    """
    both = _shingle_overlap(df, text_col, id_col, k, max_shingle_docs)
    d1 = both.select(
        F.col("id_a").alias("inner_id"),
        F.col("id_b").alias("outer_id"),
        _fixed6(
            F.col("inter").cast("double") / F.col("sz_a").cast("double")
        ).alias("containment"),
    )
    d2 = both.select(
        F.col("id_b").alias("inner_id"),
        F.col("id_a").alias("outer_id"),
        _fixed6(
            F.col("inter").cast("double") / F.col("sz_b").cast("double")
        ).alias("containment"),
    )
    return d1.unionByName(d2).filter(F.col("containment") >= threshold)


# ---------------------------------------------------------------------------
# 9. Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003)
# ---------------------------------------------------------------------------

_WINNOW_POS_LIM = 1 << 20  # grams per doc addressable in the packed key


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints: in every window of `w`
    consecutive k-gram hashes keep the minimal one (rightmost on
    ties), then dedupe the selections. The guarantee (SIGMOD 2003
    §2): any shared token run of length >= w + k - 1 between two
    documents yields at least one IDENTICAL selected fingerprint, at
    density ~2/(w+1) — position-robust local fingerprints, the layer
    between exact-hash dedup (whole doc) and MinHash (global
    similarity) that localizes WHERE the overlap is.

    Portability: gram hash = first 10 md5 hex chars (40-bit, engine-
    identical); rightmost-min tie-break rides one packed 60-bit key,
    ``hash * 2^20 + (2^20 - 1 - pos)``, so a single ``min()`` window
    resolves hash AND position — grams beyond 2^20 per document are
    outside the contract and filtered identically in the oracle
    (tile longer documents upstream with text.chunk_windows).

    Scale shape: one posexplode (Arrow shingling), one window
    partitioned by (doc) — skew bounded by document length like the
    other per-doc windows — and one distinct whose key count is
    ~n_grams·2/(w+1). Docs with fewer than w full windows emit
    nothing (no full window exists; the guarantee is vacuous below
    w + k - 1 tokens anyway).

    Output: (id_col, fp_hash, pos) — one row per selected
    fingerprint, pos = 0-based gram offset of the selection.
    """
    if w < 1:
        raise ValueError(f"window size w must be >= 1, got {w}")
    lim = F.lit(_WINNOW_POS_LIM)
    grams = df.select(
        F.col(id_col),
        F.posexplode(shingles_arrow(F.col(text_col), k)).alias("pos", "g"),
    ).where(F.col("pos") < lim)
    keyed = grams.select(
        id_col,
        "pos",
        (
            F.conv(F.substring(F.md5("g"), 1, 10), 16, 10).cast("long") * lim
            + (lim - 1 - F.col("pos"))
        ).alias("key"),
    )
    sel_win = (
        Window.partitionBy(id_col)
        .orderBy(F.col("pos").asc_nulls_last())
        .rowsBetween(0, w - 1)
    )
    doc_win = Window.partitionBy(id_col)
    picked = keyed.select(
        F.col(id_col),
        F.col("pos"),
        F.min("key").over(sel_win).alias("sel"),
        F.max("pos").over(doc_win).alias("maxp"),
    ).where(F.col("pos") <= F.col("maxp") - (w - 1))
    return (
        picked.select(id_col, "sel")
        .distinct()
        .select(
            F.col(id_col),
            # decode in INTEGER arithmetic: the packed key exceeds
            # 2^53, so a double-typed `/` silently rounds the hash
            F.shiftright(F.col("sel"), 20).alias("fp_hash"),
            (F.lit(_WINNOW_POS_LIM - 1) - F.col("sel") % _WINNOW_POS_LIM)
            .cast("long")
            .alias("pos"),
        )
    )
