"""Dedup tiers and similarity search vs. ground truth.

The approximate operators' registered queries ARE oracle-checked (in
portable-hash / pinned-plane form); these tests additionally pin
semantics against exact Python computations on small corpora, the
xxhash64 production variants, and the Arrow/expression parity
contracts the oracles rely on.
"""

from __future__ import annotations

import itertools
import math

import pytest
from pyspark.sql import functions as F

from aurora_mito_etl_spark.operators import dedup as dd
from aurora_mito_etl_spark.operators import similarity as sim


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("quick", "rapid")),  # near dup of 0
        (3, "completely different text about spark shuffle partitions and joins"),
        (4, "another unrelated document mentioning window aggregation only"),
        (5, base + " with a small suffix appended"),  # near dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _shingle_set(text: str, k: int = 3) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def test_exact_dedup_keeps_min_id(spark):
    out = dd.exact_dedup(_docs(spark), "text", "doc_id")
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 2, 3, 4, 5]  # doc 1 removed, doc 0 (min id) kept


def test_duplicate_groups(spark):
    out = dd.duplicate_groups(_docs(spark), "text", "doc_id").collect()
    assert len(out) == 1
    assert out[0]["member_ids"] == [0, 1]


def test_ngram_jaccard_matches_python_ground_truth(spark):
    out = dd.ngram_jaccard_pairs(_docs(spark), "text", "doc_id", k=3, threshold=0.3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    rows = {r["doc_id"]: r["text"] for r in _docs(spark).collect()}
    expect = {}
    for a, b in itertools.combinations(sorted(rows), 2):
        jj = _jaccard(_shingle_set(rows[a]), _shingle_set(rows[b]))
        if jj >= 0.3:
            expect[(a, b)] = round(jj, 6)
    assert set(got) == set(expect)
    for k in expect:
        assert got[k] == pytest.approx(expect[k], abs=1e-6)


def test_ngram_jaccard_hot_shingle_cap(spark):
    # Every doc shares one boilerplate sentence; capping shingles that
    # occur in > 3 docs removes the boilerplate edges but keeps the
    # genuine near-dup pair (whose overlap is doc-specific).
    boiler = "subscribe to our newsletter for updates every single day"
    rows = [
        (0, "alpha beta gamma delta epsilon zeta " + boiler),
        (1, "alpha beta gamma delta epsilon zeta eta " + boiler),  # near dup of 0
        (2, "totally different content one " + boiler),
        (3, "totally unrelated content two " + boiler),
        (4, "yet another separate text three " + boiler),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # set sizes stay EXACT under the cap, so the capped Jaccard of the
    # genuine pair is 4 shared prefix-shingles / 23-union ≈ 0.174
    exact = dd.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.15)
    capped = dd.ngram_jaccard_pairs(
        df, "text", "doc_id", threshold=0.15, max_shingle_docs=3
    )
    e = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    c = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (0, 1) in c           # genuine pair survives the cap
    assert c <= e                # capping only removes pairs
    # the boilerplate-only pairs are gone once the hot shingles drop
    assert not {(2, 3), (2, 4), (3, 4)} & c


def test_minhash_lsh_finds_near_dups_no_false_positives(spark):
    out = dd.minhash_lsh_pairs(
        _docs(spark), "text", "doc_id", k_shingle=3, num_hashes=16, bands=8, threshold=0.3
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    # verification step guarantees no false positives
    rows = {r["doc_id"]: r["text"] for r in _docs(spark).collect()}
    for (a, b), jj in got.items():
        true_j = _jaccard(_shingle_set(rows[a]), _shingle_set(rows[b]))
        assert jj == pytest.approx(round(true_j, 6))
        assert true_j >= 0.3
    # the exact dup pair must always be found (identical signatures)
    assert (0, 1) in got


def test_minhash_lsh_bucket_cap_drops_mega_cluster(spark):
    # 40 identical copies form one mega-bucket in every band; 2 other
    # docs are a genuine near-dup pair in their own buckets. With
    # max_bucket_size below the cluster size the mega-bucket's m²/2
    # candidates are skipped while unrelated buckets are untouched.
    boiler = "the same boilerplate text repeated here for every copy"
    rows = [(i, boiler) for i in range(40)] + [
        (100, "a distinct document about modular synthesizers and patch cables"),
        (101, "a distinct document about modular synthesizers and patch leads"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dd.minhash_lsh_pairs(
        df, "text", "doc_id", k_shingle=3, num_hashes=16, bands=4,
        threshold=0.3, max_bucket_size=10,
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got                     # real near-dup survives
    assert not any(a < 40 and b < 40 for a, b in got)  # cluster skipped
    # default (None) keeps exact semantics: cluster pairs all present
    full = dd.minhash_lsh_pairs(
        df, "text", "doc_id", k_shingle=3, num_hashes=16, bands=4, threshold=0.3
    )
    n_full = full.filter((F.col("id_a") < 40) & (F.col("id_b") < 40)).count()
    assert n_full == 40 * 39 // 2


def test_simhash_identical_docs_zero_hamming(spark):
    out = dd.simhash_pairs(_docs(spark), "text", "doc_id", max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert got.get((0, 1)) == 0


def test_simhash64_deterministic(spark):
    a = dd.simhash64_df(_docs(spark), "text", "doc_id").collect()
    b = dd.simhash64_df(_docs(spark), "text", "doc_id").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def _vectors(spark, n=40, dim=8):
    rows = []
    for i in range(n):
        v = [math.sin(i * 0.7 + j) for j in range(dim)]
        rows.append((i, v))
    # plant a near-duplicate of vector 0
    v0 = rows[0][1]
    rows.append((n, [x + 1e-4 for x in v0]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_brute_force_topk_matches_python(spark):
    vecs = _vectors(spark)
    q = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = sim.brute_force_topk(vecs, q, k=3).collect()
    rows = {r["vec_id"]: r["embedding"] for r in vecs.collect()}
    scores = sorted(
        ((round(_cos(rows[0], v), 6), -i) for i, v in rows.items()),
        reverse=True,
    )
    expect_ids = [-s[1] for s in scores[:3]]
    got_ids = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert got_ids == expect_ids
    assert got_ids[0] == 0  # self first


def test_embedding_near_dup_finds_planted_pair(spark):
    vecs = _vectors(spark)
    out = sim.embedding_near_dup_pairs(
        vecs, threshold=0.999, n_planes=4, dim=8
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 40) in pairs  # planted near-dup lands in same bucket


def test_lsh_topk_is_subset_of_bucket_and_ranked(spark):
    vecs = _vectors(spark)
    q = vecs.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = sim.lsh_bucketed_topk(vecs, q, dim=8, k=3, n_planes=4)
    for (qid,), grp in itertools.groupby(
        sorted(out.collect(), key=lambda r: (r["query_id"], r["rank"])),
        key=lambda r: (r["query_id"],),
    ):
        ranks = [r["rank"] for r in grp]
        assert ranks == list(range(1, len(ranks) + 1))


def test_shingles_arrow_matches_expr_on_testdata(spark):
    # The Arrow shingle twin must produce the IDENTICAL string arrays
    # as the Catalyst expression (the dedup oracles hash these
    # strings) — exhaustive check on the real documents table plus
    # whitespace/NULL/short edge cases.
    import os

    from aurora_mito_etl_spark.operators import textstats as tst
    from aurora_mito_etl_spark.sources.catalog import load_table

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    d = load_table(spark, sf, "documents")
    both = d.select(
        tst.shingles(F.col("text"), 3).alias("e"),
        tst.shingles_arrow(F.col("text"), 3).alias("a"),
    )
    assert both.filter(F.col("e") != F.col("a")).count() == 0
    edge = spark.createDataFrame(
        [("a b c d",), ("  x\t\ty  z ",), ("one two",), ("",), (None,),
         ("A B C D",)],  # \xa0 is NOT Java \s — must stay one token
        "text string",
    )
    rows = edge.select(
        tst.shingles(F.col("text"), 3).alias("e"),
        tst.shingles_arrow(F.col("text"), 3).alias("a"),
    ).collect()
    for r in rows:
        assert (r["e"] or []) == list(r["a"]), (r["e"], r["a"])


def test_bucket_arrow_matches_expr_on_testdata(spark):
    # The Arrow-batched bucket assignment must be BIT-identical to the
    # Catalyst expression form (the DuckDB oracles hash the resulting
    # pairs, so even one flipped sign bit is a gate failure) — checked
    # exhaustively on the real embeddings table.
    import os

    from aurora_mito_etl_spark.sources.catalog import load_table

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    e = load_table(spark, sf, "embeddings")
    planes = sim._hyperplanes(64, 8)
    both = e.select(
        sim.signed_projection_bucket(F.col("embedding"), planes).alias("b_expr"),
        sim.signed_projection_bucket_arrow(F.col("embedding"), planes).alias(
            "b_arrow"
        ),
    )
    assert both.filter(F.col("b_expr") != F.col("b_arrow")).count() == 0


def test_bucket_arrow_edge_rows(spark):
    # NULL and wrong-length vectors → bucket 0, same as the expression
    # form (zip_with null-pads, so no sign bit is ever set)
    planes = sim._hyperplanes(4, 3)
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0, 4.0]), (1, None), (2, [1.0, 2.0]), (3, [0.0] * 4)],
        "vec_id long, embedding array<double>",
    )
    rows = df.select(
        "vec_id",
        sim.signed_projection_bucket(F.col("embedding"), planes).alias("b_expr"),
        sim.signed_projection_bucket_arrow(F.col("embedding"), planes).alias(
            "b_arrow"
        ),
    ).collect()
    got = {r["vec_id"]: (r["b_expr"], r["b_arrow"]) for r in rows}
    assert got[1] == (0, 0)
    assert got[2] == (0, 0)
    assert got[3] == (7, 7)  # zero vector: dot==0.0 >= 0 sets every bit
    assert got[0][0] == got[0][1]


def test_connected_components_chain(spark):
    # chain 1-2-3 plus isolated pair 7-8: two components
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (7, 8, 0.8)],
        "id_a long, id_b long, jaccard double",
    )
    comp = {r["id"]: r["component"] for r in dd.connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[7] == comp[8] == 7


def test_connected_components_long_chain_and_giant_star(spark):
    # A 60-node chain (diameter 59) + a skewed giant star: min-label
    # propagation needs O(diameter) rounds and would blow max_iter=20;
    # large/small-star must converge within it (O(log^2 n) rounds).
    chain = [(i, i + 1, 0.9) for i in range(100, 160)]
    star = [(0, j, 0.9) for j in range(1, 40)]  # hot hub node 0
    bridge = [(39, 50, 0.9), (50, 51, 0.9)]
    pairs = spark.createDataFrame(
        chain + star + bridge, "id_a long, id_b long, jaccard double"
    )
    comp = {r["id"]: r["component"] for r in dd.connected_components(pairs).collect()}
    assert all(comp[i] == 100 for i in range(100, 161))  # chain is one comp
    star_ids = list(range(0, 40)) + [50, 51]
    assert all(comp[i] == 0 for i in star_ids)  # star+bridge is one comp
    assert len(comp) == 61 + 42  # every node labeled exactly once


def test_dedup_clusters_transitive(spark):
    df = spark.createDataFrame(
        [(i, "t") for i in (1, 2, 3, 7, 8, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.9), (7, 8, 0.8)],
        "id_a long, id_b long, jaccard double",
    )
    out = sorted(r["doc_id"] for r in dd.dedup_clusters(df, pairs, "doc_id").collect())
    # one survivor per component + untouched 9
    assert out == [1, 7, 9]


def test_register_views_sql_surface(spark):
    from aurora_mito_etl_spark.sources.catalog import register_views

    register_views(spark, "/root/testdata/sf0.001")
    n = spark.sql("SELECT COUNT(*) AS n FROM region").collect()[0]["n"]
    assert n == 5


def test_quantize_int8_roundtrip_bounds(spark):
    from aurora_mito_etl_spark.operators import quantize as qz

    rows = [
        (0, [1.0, -2.0, 0.5, 127.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),        # zero vector → all-zero codes
        (2, [-0.003, 0.001, 0.002, -0.001]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = qz.quantize_int8(df)
    out = {r["vec_id"]: r for r in qz.quantization_error(q).collect()}
    for vid, r in out.items():
        assert all(-127 <= c <= 127 for c in r["q"])
        assert r["max_abs_err"] <= r["q_scale"] / 2 + 1e-12  # reconstruction bound
    assert out[1]["q"] == [0, 0, 0, 0] and out[1]["q_scale"] == 1.0
    assert out[0]["q"][3] == 127  # max magnitude maps to full scale
    deq = {r["vec_id"]: r["deq"] for r in qz.dequantize(q).collect()}
    assert abs(deq[0][3] - 127.0) < 1e-9


def test_nan_vector_ranks_last(spark):
    # A NaN-poisoned corpus vector must NOT surface as a top neighbor:
    # dot_arrow yields NULL for its score (sorts last under DESC),
    # unlike the Catalyst NaN which Spark orders as the LARGEST value.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [float("nan"), 1.0, 1.0, 1.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "query_id long, query_vec array<double>"
    )
    out = sorted(sim.brute_force_topk(vecs, q, k=3).collect(), key=lambda r: r["rank"])
    assert [r["vec_id"] for r in out[:2]] == [0, 1]
    assert out[-1]["vec_id"] == 2 and out[-1]["score"] is None


def test_embedding_near_dup_string_ids(spark):
    # The bucket-group verify must preserve the INPUT id type (the
    # review caught a hardcoded int64 coercion that crashed on string
    # doc ids, which the original join formulation handled).
    rows = [
        ("doc-a", [1.0, 0.0, 0.0, 0.0]),
        ("doc-b", [1.0, 1e-6, 0.0, 0.0]),
        ("doc-z", [0.0, 1.0, 0.0, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    out = sim.embedding_near_dup_pairs(
        vecs, threshold=0.999, n_planes=3, dim=4, multi_probe=1
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert ("doc-a", "doc-b") in pairs
    assert all(isinstance(r["id_a"], str) for r in out)


def test_spread_skips_derived_plans(spark):
    # injecting a repartition above a join/agg would add a full extra
    # shuffle of an intermediate — _spread must only fan out scans
    import aurora_mito_etl_spark.operators.dedup as ddm
    from aurora_mito_etl_spark.sources.catalog import load_table

    from pyspark.sql import functions as F

    base = load_table(spark, "/root/testdata/sf0.001", "documents")
    joined = base.join(base.select("doc_id"), "doc_id")
    assert ddm._spread(joined) is joined
    agged = base.groupBy("source").count()
    assert ddm._spread(agged) is agged
    # Deduplicate and Sort are derived too (dropDuplicates/orderBy
    # already shuffled; a repartition would add a shuffle / kill the
    # sort) — these nodes are NOT named 'Distinct'/'Sort'-substrings
    # in the plan STRING, which is why detection walks node names
    deduped = base.dropDuplicates(["doc_id"])
    assert ddm._spread(deduped) is deduped
    ordered = base.orderBy("doc_id")
    assert ddm._spread(ordered) is ordered
    # node-name matching, not plan-string substrings: a literal
    # containing 'Join' must not disable the fan-out
    lit = base.filter(F.col("text").contains("Joint venture"))
    plan = ddm._spread(lit)._jdf.queryExecution().analyzed().toString()
    assert "Repartition" in plan
    # scan chains (with filter/project) actually fan out: sf0.001 is
    # one small file, so the single-partition scan must repartition
    scan = base.filter("doc_id >= 0").select("doc_id", "text")
    plan = ddm._spread(scan)._jdf.queryExecution().analyzed().toString()
    assert "Repartition" in plan


def test_spread_tolerates_exotic_split_conf(spark):
    import aurora_mito_etl_spark.operators.dedup as ddm
    from aurora_mito_etl_spark.sources.catalog import load_table

    base = load_table(spark, "/root/testdata/sf0.001", "documents")
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        for v in ("1t", "2p", "0", "512k"):
            spark.conf.set("spark.sql.files.maxPartitionBytes", v)
            ddm._spread(base)  # must not raise
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_dedup_clusters_best_keeps_longest(spark):
    # chain 1~2~3 is ONE component (even though 1 !~ 3); doc 2 is the
    # longest so it survives; doc 9 has no pair and always survives
    docs = spark.createDataFrame(
        [
            (1, "aa bb cc"),
            (2, "aa bb cc dd ee ff gg"),    # longest in the cluster
            (3, "cc dd ee"),
            (9, "unrelated text entirely"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.5), (2, 3, 0.5)], "id_a long, id_b long, jaccard double"
    )
    scored = docs.withColumn("__len", F.length("text"))
    out = {r["doc_id"] for r in
           dd.dedup_clusters_best(scored, pairs, "doc_id", "__len").collect()}
    assert out == {2, 9}
    # tie on priority → min id: make 1 and 2 equal length
    tie = spark.createDataFrame(
        [(1, "aa bb cc"), (2, "dd ee ff"), (9, "zz")],
        "doc_id long, text string",
    ).withColumn("__len", F.length("text"))
    tp = spark.createDataFrame([(1, 2, 0.5)], "id_a long, id_b long, jaccard double")
    out2 = {r["doc_id"] for r in
            dd.dedup_clusters_best(tie, tp, "doc_id", "__len").collect()}
    assert out2 == {1, 9}


def test_exact_near_dup_blocked_multiblock_matches_python(spark):
    # rows_per_block=8 over 41 vectors forces ~6 blocks → self AND
    # cross-block tiles both execute; results must equal the O(n²)
    # python ground truth regardless of blocking
    vecs = _vectors(spark)  # 41 vectors, planted near-dup of id 0
    out = sim.exact_near_dup_pairs_blocked(
        vecs, threshold=0.95, rows_per_block=8
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in out}
    rows = {r["vec_id"]: r["embedding"] for r in vecs.collect()}
    expect = {}
    for a, b in itertools.combinations(sorted(rows), 2):
        c = _cos(rows[a], rows[b])
        if c >= 0.95:
            expect[(a, b)] = round(c, 6)
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert got[k] == pytest.approx(v, abs=2e-6)
    assert (0, 40) in got  # the planted near-dup pair is found


def test_simhash_bucket_cap_drops_mega_cluster(spark):
    # identical docs share every band slice; capping skips their m²/2
    # candidates while a distinct near-dup pair still pairs up
    boiler = "the same boilerplate text repeated here for every copy again"
    other = "a distinct document about modular synthesizers and patch cables"
    rows = [(i, boiler) for i in range(30)] + [(100, other), (101, other)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dd.simhash_pairs(
        df, "text", "doc_id", max_hamming=8, max_bucket_size=10
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got
    assert not any(a < 30 and b < 30 for a, b in got)
    full = dd.simhash_pairs(df, "text", "doc_id", max_hamming=8)
    n_full = full.filter((F.col("id_a") < 30) & (F.col("id_b") < 30)).count()
    assert n_full == 30 * 29 // 2


def test_minhash_lsh_join_cross_side_only(spark):
    # new batch = near-dup of corpus doc 0 + one novel doc; the join
    # must find only cross-side pairs (never corpus-corpus or new-new)
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame(
        [(0, base), (2, base), (4, "unrelated corpus text about window functions")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, base + " with a suffix"), (3, "entirely novel content nothing shared")],
        "doc_id long, text string",
    )
    out = dd.minhash_lsh_join(
        new, corpus, "text", "doc_id", num_hashes=16, bands=8, threshold=0.3
    ).collect()
    got = {(r["new_id"], r["corpus_id"]): r["jaccard"] for r in out}
    assert (1, 0) in got and (1, 2) in got   # near-dup vs both copies
    assert all(n in (1, 3) and c in (0, 2, 4) for n, c in got)
    assert not any(n == 3 for n, _ in got)   # novel doc matches nothing
    # jaccard values are exact (verified), equal for the identical copies
    assert got[(1, 0)] == got[(1, 2)] > 0.3


def test_pq_encode_matches_python_argmin(spark):
    from aurora_mito_etl_spark.operators import quantize as qz

    dim, m, k = 8, 2, 4
    vecs = _vectors(spark, n=20, dim=dim)
    out = {r["vec_id"]: r for r in qz.pq_encode(vecs, dim=dim, m=m, n_centroids=k).collect()}
    books = qz.pq_codebooks(dim, m, k)
    rows = {r["vec_id"]: r["embedding"] for r in vecs.collect()}
    for vid, v in rows.items():
        for j in range(m):
            sub = v[j * (dim // m) : (j + 1) * (dim // m)]
            # argmin squared distance; ties to larger cell (engine rule)
            d2 = [sum((x - c) ** 2 for x, c in zip(sub, cent)) for cent in books[j]]
            best = max(
                range(k), key=lambda c: (-d2[c], c)
            )
            assert out[vid][f"pq_{j}"] == best, (vid, j)
        assert out[vid]["pq_csv"] == ",".join(
            str(out[vid][f"pq_{j}"]) for j in range(m)
        )


def test_pq_encode_arrow_matches_expression_path(spark):
    from aurora_mito_etl_spark.operators import quantize as qz

    vecs = _vectors(spark, n=30, dim=8)
    expr = {
        r["vec_id"]: r["pq_csv"]
        for r in qz.pq_encode(vecs, dim=8, m=2, n_centroids=4).collect()
    }
    arrow = {
        r["vec_id"]: r["pq_csv"]
        for r in qz.pq_encode_arrow(vecs, dim=8, m=2, n_centroids=4).collect()
    }
    assert expr == arrow


def test_pq_encode_arrow_matches_on_real_table(spark):
    # exhaustive twin equality at the registered query's parameters on
    # the real embeddings table — the ADVICE r04 tie-formula fix means
    # both paths now compare IDENTICAL float expressions, so equality
    # is exact, not fixture luck
    import os

    from aurora_mito_etl_spark.operators import quantize as qz
    from aurora_mito_etl_spark.sources.catalog import load_table

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
    e = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    expr = {
        r["vec_id"]: r["pq_csv"]
        for r in qz.pq_encode(e, dim=64, m=4, n_centroids=16).collect()
    }
    arrow = {
        r["vec_id"]: r["pq_csv"]
        for r in qz.pq_encode_arrow(e, dim=64, m=4, n_centroids=16).collect()
    }
    assert expr == arrow and len(expr) >= 500


def test_containment_catches_excerpts_jaccard_misses(spark):
    from aurora_mito_etl_spark.operators import dedup as dd

    article = " ".join(f"w{i}" for i in range(300))
    quote = " ".join(f"w{i}" for i in range(40, 60))  # 20-token excerpt
    df = spark.createDataFrame(
        [(1, article), (2, quote), (3, "totally different words entirely here")],
        "doc_id long, text string",
    )
    cont = {
        (r["inner_id"], r["outer_id"]): r["containment"]
        for r in dd.containment_pairs(df, "text", "doc_id", threshold=0.8).collect()
    }
    # the quote is fully contained in the article...
    assert cont[(2, 1)] == 1.0
    # ...but NOT vice versa, and the unrelated doc matches nothing
    assert (1, 2) not in cont
    assert not any(3 in p for p in cont)
    # Jaccard on the same pair is tiny — the case this operator exists for
    jac = dd.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    assert not any({r["id_a"], r["id_b"]} == {1, 2} for r in jac)


def test_containment_symmetric_for_identical_docs(spark):
    from aurora_mito_etl_spark.operators import dedup as dd

    t = "alpha beta gamma delta epsilon zeta eta"
    df = spark.createDataFrame([(1, t), (2, t)], "doc_id long, text string")
    cont = {
        (r["inner_id"], r["outer_id"]): r["containment"]
        for r in dd.containment_pairs(df, "text", "doc_id").collect()
    }
    assert cont == {(1, 2): 1.0, (2, 1): 1.0}


def test_pq_adc_topk_retrieves_own_cluster(spark):
    from aurora_mito_etl_spark.operators import quantize as qz

    # two well-separated clusters in 8-dim; PQ with 2 subspaces x 4
    # centroids must retrieve same-cluster rows for each query
    rows = [(i, [10.0 + (i % 3) * 0.1] * 8) for i in range(10)] + [
        (100 + i, [-10.0 - (i % 3) * 0.1] * 8) for i in range(10)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    import pyspark.sql.functions as F

    q = spark.createDataFrame(
        [(0, [10.05] * 8), (1, [-10.05] * 8)],
        "query_id long, query_vec array<double>",
    )
    out = qz.pq_adc_topk(vecs, q, dim=8, m=2, n_centroids=4, k=5)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    assert sorted(v for _, v in got[0]) == sorted(v for _, v in got[0])
    assert all(v < 100 for _, v in got[0])       # positive cluster
    assert all(v >= 100 for _, v in got[1])      # negative cluster
    assert [r for r, _ in sorted(got[0])] == [1, 2, 3, 4, 5]
    # deterministic
    again = {
        (r["query_id"], r["rank"], r["vec_id"], r["adc_dist"])
        for r in qz.pq_adc_topk(vecs, q, dim=8, m=2, n_centroids=4, k=5).collect()
    }
    first = {
        (r["query_id"], r["rank"], r["vec_id"], r["adc_dist"])
        for r in out.collect()
    }
    assert again == first


def test_zero_norm_vector_scores_finite(spark):
    """A zero-norm corpus vector must score dot/1.0 (finite, defined)
    — a NaN score would be rewritten to NULL by topk's Arrow
    round-trip and rank last while DuckDB ranks NaN first; the
    safe-norm guard (and its CASE WHEN oracle twin) removes the NaN
    entirely. Regression for the review's regenerated-testdata
    scenario."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # zero vector
        (2, [0.5, 0.5, 0.0, 0.0]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "query_id long, query_vec array<double>"
    )
    out = {r["vec_id"]: r for r in sim.brute_force_topk(vecs, q, k=3).collect()}
    assert len(out) == 3  # zero vector present, not dropped
    assert out[1]["score"] == 0.0  # dot/1.0, not NaN/NULL
    assert out[1]["rank"] == 3  # and it never outranks a real match


def test_topk_keeps_null_query_groups(spark):
    """NULL query ids form their own ranked group (pandas groupby
    dropna=False), matching the window semantics over the full table."""
    scored = spark.createDataFrame(
        [(None, 1, 0.9), (None, 2, 0.8), (10, 3, 0.7)],
        "query_id long, vec_id long, score double",
    ).coalesce(1)  # one partition: the partial phase must prune to k
    top = sim.topk(scored, "query_id", "vec_id", k=1).collect()
    got = {(r["query_id"], r["vec_id"], r["rank"]) for r in top}
    assert got == {(None, 1, 1), (10, 3, 1)}  # (None, 2) pruned to k=1


def test_topk_null_group_spans_arrow_batches(spark):
    """NULL query ids surface as NaN floats in pandas, and hash(nan)
    is identity-based on Python 3.10+ — NaN keys arriving in DIFFERENT
    Arrow batches must still accumulate in one state entry, or a
    partition emits more than k rows for the NULL group (ADVICE r6).
    Forces 2-row Arrow batches so the 6 NULL-group rows span 3."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        rows = [(None, i, 1.0 - i / 10.0) for i in range(6)]
        scored = spark.createDataFrame(
            rows, "query_id long, vec_id long, score double"
        ).coalesce(1)
        # the partition-local phase alone: its k x n_groups state bound
        pruned = sim._prune_topk(scored, "query_id", "vec_id", 1, "score", False)
        pruned = pruned.collect()
        top = sim.topk(scored, "query_id", "vec_id", k=1).collect()
    finally:
        spark.conf.set(key, old)
    assert len(pruned) == 1  # ONE entry for the NULL group, pruned to k
    assert pruned[0]["vec_id"] == 0  # and it kept the best-scored row
    assert [(r["vec_id"], r["rank"]) for r in top] == [(0, 1)]


_TOPK_CASES = {
    # (rows as (g, id, score), k, ascending)
    "descending": (
        [(1, 1, 0.9), (1, 2, 0.7), (1, 3, 0.9), (1, 4, None), (2, 5, 0.1),
         (2, 6, 0.3), (2, 7, 0.2)],
        2,
        False,
    ),
    # label_outlier_topk's direction: smallest first, NULL score last
    "ascending": (
        [(1, 1, 0.9), (1, 2, None), (1, 3, 0.1), (1, 4, 0.1), (2, 5, None),
         (2, 6, 0.3)],
        2,
        True,
    ),
    "null_group_key": (
        [(None, 1, 0.5), (None, 2, 0.8), (None, 3, 0.8), (1, 4, 0.2),
         (1, 5, 0.4)],
        2,
        False,
    ),
    # the tie on score 1.0 must go to id 1: NULL ids sort last in BOTH
    # phases (a NULLS FIRST window would pick the NULL id whenever it
    # survives pruning in another partition than id 1)
    "score_tie_with_null_id": (
        [(7, None, 1.0), (7, 1, 1.0), (7, 2, 0.5)],
        1,
        False,
    ),
}


@pytest.mark.parametrize("case", sorted(_TOPK_CASES))
def test_topk_equals_one_phase_window(spark, case):
    """`similarity.topk` returns exactly the rows (and ranks) of ONE
    row_number window over the whole table under the single order
    (score NULLS LAST in the given direction, id ASC NULLS LAST) —
    with all rows in one partition and with one row per partition
    (each survives pruning, so phase 2 alone decides the ties)."""
    from pyspark.sql import Window

    rows, k, ascending = _TOPK_CASES[case]
    structs = [
        F.struct(
            F.lit(g).cast("long").alias("g"),
            F.lit(i).cast("long").alias("id"),
            F.lit(sc).cast("double").alias("score"),
        )
        for g, i, sc in rows
    ]
    # spark.range splits n rows over n partitions, one row each
    spread = spark.range(0, len(rows), 1, len(rows)).select(
        F.element_at(F.array(*structs), F.col("id").cast("int") + 1).alias("r")
    ).select("r.*")
    layouts = {"one_partition": spread.coalesce(1), "row_per_partition": spread}
    score = F.asc_nulls_last("score") if ascending else F.desc_nulls_last("score")
    w = Window.partitionBy("g").orderBy(score, F.asc_nulls_last("id"))
    df = layouts["one_partition"]
    want = {
        tuple(r)
        for r in df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .collect()
    }
    for layout, frame in layouts.items():
        got = sim.topk(frame, "g", "id", k, ascending=ascending).collect()
        assert {tuple(r) for r in got} == want, (case, layout)


def test_ivfpq_candidates_are_cell_pruned_and_ranked(spark):
    """IVF-PQ: every returned neighbor must lie in one of the query's
    n_probe probed cells (the pruning contract) and ranks must ascend
    by adc_dist with vec_id ties. Exact values are pinned by the
    emb_ivfpq_topk oracle; this pins the pruning semantics the SQL
    replay alone can't distinguish from a full scan."""
    import numpy as np

    from aurora_mito_etl_spark.operators import quantize as qz
    from aurora_mito_etl_spark.sources.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = sim.ivf_centroids(64, 16)
    got = qz.ivfpq_adc_topk(
        e, q, dim=64, m=4, n_centroids=16, k=5, n_cells=16, n_probe=4,
        centroids=cents,
    ).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q, "no results"
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        dists = [r["adc_dist"] for r in rows]
        assert dists == sorted(dists)
    # pruning contract: recompute cells + probes python-side with the
    # same argmax rule (ties -> larger cell) and check membership
    cell_of = {
        r["vec_id"]: r["cell"]
        for r in qz.ivfpq_encode_arrow(e, 64, cents).collect()
    }
    # expected-side scores must use the SAME ordered per-dimension
    # fold as the product (BLAS matmul can differ in the last ulp and
    # flip a near-tie probe — the repo's numeric-twin invariant)
    cents_np = np.array(cents, dtype=np.float64)
    half = np.array([sum(x * x for x in c) / 2.0 for c in cents])
    for r in q.collect():
        qv = np.array(r["query_vec"], dtype=np.float64)[None, :]
        s = sim._ordered_gram(qv, cents_np)[0] - half
        best = np.lexsort((-np.arange(len(s)), -s))[:4]
        probed = set(int(i) for i in best)
        for row in by_q[r["query_id"]]:
            assert cell_of[row["vec_id"]] in probed, (r["query_id"], row)


def test_ivfpq_rerank_is_exact_topk_of_shortlist(spark):
    """The re-rank contract (quantize.ivfpq_rerank_topk): output is
    EXACTLY the fixed6-cosine top-k of the ADC shortlist — same
    candidate ids the codes nominated, re-ordered by true scores with
    the brute-force tie-break (score desc, vec_id asc). Replayed
    python-side with the ordered left-to-right fold (the numeric-twin
    invariant: dot_arrow must match it bit-for-bit)."""
    from aurora_mito_etl_spark.functions.numeric import fixed6_py
    from aurora_mito_etl_spark.operators import quantize as qz
    from aurora_mito_etl_spark.sources.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = sim.ivf_centroids(64, 16)
    kw = dict(dim=64, m=4, n_centroids=16, n_cells=16, n_probe=4,
              centroids=cents)
    shortlist: dict = {}
    for r in qz.ivfpq_adc_topk(e, q, k=20, **kw).collect():
        shortlist.setdefault(r["query_id"], []).append(r["vec_id"])
    got = qz.ivfpq_rerank_topk(e, q, k=5, r_cand=20, **kw).collect()
    assert got, "no results"

    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in e.collect()}

    def norm(v):
        n = math.sqrt(sum(x * x for x in v))
        return n if n != 0 else 1.0

    for qid, cand in shortlist.items():
        qv = vecs[qid]
        scored = []
        for vid in cand:
            v = vecs[vid]
            dot = 0.0
            for a, b in zip(v, qv):  # ordered fold, corpus x query
                dot += a * b
            scored.append((fixed6_py(dot / (norm(v) * norm(qv))), vid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        expected = [
            (qid, vid, s, rank + 1)
            for rank, (s, vid) in enumerate(scored[:5])
        ]
        actual = sorted(
            (
                (r["query_id"], r["vec_id"], r["score"], r["rank"])
                for r in got
                if r["query_id"] == qid
            ),
            key=lambda t: t[3],
        )
        assert actual == expected, qid
        # and every emitted id came from the shortlist
        assert {t[1] for t in actual} <= set(cand)


def _rank_gap(scores, r):
    """Min gap between the r-th and (r+1)-th best score per row — the
    margin an oracle-replayed argmax (r=1) or `rank <= r` cutoff rides
    on. Shared by both margin canaries so the gap definition cannot
    drift between the sf0.001 and sf0.1 tiers."""
    import numpy as np

    s = np.sort(scores, axis=1)
    return float(np.min(s[:, -r] - s[:, -r - 1]))


def test_argmax_and_sign_margins_dwarf_engine_ulps(spark):
    """Canary for the r7 list_dot_product finding: engine kernels can
    disagree by ~1 ulp on a dot product, so any ORACLE-REPLAYED
    argmax (IVF cell, PQ code) or sign test (LSH bucket) is safe only
    while the data's decision margins dwarf that. Measure the minimum
    top-2 score gap / |dot| on the gate tables and require a margin
    of >= 1e-9 — ten-plus orders above a ulp, tripping loudly if the
    driver ever regenerates data with a genuine near-tie (the fix
    then is fixed6-before-argmax on BOTH engines, as _adc_rank_tail
    already does for distances)."""
    import numpy as np

    from aurora_mito_etl_spark.operators.quantize import pq_codebooks
    from aurora_mito_etl_spark.sources.catalog import load_table

    rows = (
        load_table(spark, "/root/testdata/sf0.001", "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)

    cents = np.array(sim.ivf_centroids(64, 16))
    half = np.array([sum(x * x for x in c) / 2.0 for c in sim.ivf_centroids(64, 16)])
    assert _rank_gap(M @ cents.T - half, 1) > 1e-9
    for j, b in enumerate(pq_codebooks(64, 4, 16)):
        B = np.array(b)
        h = np.array([sum(x * x for x in c) / 2.0 for c in b])
        assert _rank_gap(M[:, j * 16 : (j + 1) * 16] @ B.T - h, 1) > 1e-9, j
    planes = np.array(sim._hyperplanes(64, 8))
    assert float(np.min(np.abs(M @ planes.T))) > 1e-9
    # IVF-PQ probe selection is `rank <= n_probe` over cell scores for
    # the QUERY rows (gate: n_probe=4, queries vec_id % 100 == 0) — a
    # near-tie at the 4th-vs-5th cell would flip the probed candidate
    # SET without moving any top-1 argmax, so the boundary needs its
    # own margin (ADVICE r7).
    qmask = np.array([r["vec_id"] % 100 == 0 for r in rows])
    assert qmask.any()
    assert _rank_gap(M[qmask] @ cents.T - half, 4) > 1e-9


def test_argmax_margins_hold_at_sf01(spark):
    """sf0.1 tier of the margin canary: the r7 list_dot_product ulp
    only surfaced at sf0.1 (CLAUDE.md), so the argmax / sign /
    probe-boundary margins must be re-measured where the divergence
    actually lives, not only on the 600-row table. One collect of the
    embedding column (~6k rows x 64 doubles) — cheap next to bench."""
    import numpy as np

    from aurora_mito_etl_spark.operators.quantize import pq_codebooks
    from aurora_mito_etl_spark.sources.catalog import load_table

    rows = (
        load_table(spark, "/root/testdata/sf0.1", "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    M = np.array([r["embedding"] for r in rows], dtype=np.float64)

    cents = np.array(sim.ivf_centroids(64, 16))
    half = np.array([sum(x * x for x in c) / 2.0 for c in sim.ivf_centroids(64, 16)])
    cell_scores = M @ cents.T - half
    assert _rank_gap(cell_scores, 1) > 1e-9
    for j, b in enumerate(pq_codebooks(64, 4, 16)):
        B = np.array(b)
        h = np.array([sum(x * x for x in c) / 2.0 for c in b])
        assert _rank_gap(M[:, j * 16 : (j + 1) * 16] @ B.T - h, 1) > 1e-9, j
    planes = np.array(sim._hyperplanes(64, 8))
    assert float(np.min(np.abs(M @ planes.T))) > 1e-9
    qmask = np.array([r["vec_id"] % 100 == 0 for r in rows])
    assert qmask.any()
    assert _rank_gap(cell_scores[qmask], 4) > 1e-9


def test_winnow_shared_run_guarantee(spark):
    # SIGMOD 2003 guarantee: a shared token run of length >= w + k - 1
    # (= 8 here) yields at least one identical (fp_hash, gram) pick in
    # both docs, regardless of surrounding text.
    shared = "zebra quilt ember onyx lagoon drift plume crater"  # 8 tokens
    df = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {shared} delta epsilon"),
            (2, f"one two three four five {shared} six"),
        ],
        "doc_id long, text string",
    )
    fps = dd.winnow_fingerprints(df, "text", "doc_id", k=5, w=4)
    a = {r["fp_hash"] for r in fps.where("doc_id = 1").collect()}
    b = {r["fp_hash"] for r in fps.where("doc_id = 2").collect()}
    assert a & b


def test_winnow_rightmost_tie_and_density(spark):
    # All grams identical ("a a a ... a") -> every window is a total
    # tie, the rightmost index wins, and consecutive windows select
    # DIFFERENT positions, so the dedup keeps one fp per window.
    df = spark.createDataFrame([(7, "a " * 12)], "doc_id long, text string")
    out = dd.winnow_fingerprints(df, "text", "doc_id", k=5, w=4).collect()
    # 12 tokens -> 8 grams (pos 0..7) -> 5 full windows (starts 0..4),
    # window s selects pos s+3 (rightmost of [s, s+3])
    assert sorted(r["pos"] for r in out) == [3, 4, 5, 6, 7]
    assert len({r["fp_hash"] for r in out}) == 1
    # density/count sanity: never more fps than full windows
    assert len(out) <= 5


def test_winnow_short_docs_emit_nothing(spark):
    df = spark.createDataFrame(
        [
            (1, "only four tokens here"),          # < k tokens: no grams
            (2, "five tokens right here now"),     # 1 gram < w windows
            (3, "six tokens sit right here now"),  # 2 grams < w windows
        ],
        "doc_id long, text string",
    )
    assert dd.winnow_fingerprints(df, "text", "doc_id", k=5, w=4).count() == 0


def test_split_leakage_report_join_free(spark):
    """The leakage audit: only cross-side pairs count, the emitted id
    is the HOLDOUT side, multiplicity and max score aggregate per
    holdout doc — and the plan contains no join (side membership is
    an expression over the id)."""
    from aurora_mito_etl_spark.operators import sampling as sp
    from aurora_mito_etl_spark.operators.sampling import _BUCKETS, _hash_bucket

    ids = list(range(40))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    cut = int(0.2 * _BUCKETS)
    side = {
        r["doc_id"]: r["b"] < cut
        for r in df.select(
            "doc_id", _hash_bucket(F.col("doc_id"), "split").alias("b")
        ).collect()
    }
    hold = [i for i in ids if side[i]]
    train = [i for i in ids if not side[i]]
    assert hold and train
    h0, h1, t0, t1 = hold[0], hold[1 % len(hold)], train[0], train[1]
    pairs = spark.createDataFrame(
        [
            (min(t0, h0), max(t0, h0), 0.9),   # crossing -> h0
            (min(t1, h0), max(t1, h0), 0.5),   # crossing -> h0 again
            (min(t0, t1), max(t0, t1), 0.8),   # train-train: ignored
            (min(h0, h1), max(h0, h1), 0.7) if h0 != h1 else (min(t0, h0), max(t0, h0), 0.7),
        ],
        "id_a long, id_b long, jaccard double",
    )
    out = sp.split_leakage_report(pairs)
    got = {r["doc_id"]: r for r in out.collect()}
    if h0 != h1:
        assert set(got) == {h0}
    assert got[h0]["n_train_neighbors"] == 2
    assert got[h0]["max_score"] == 0.9
    assert "Join" not in out._jdf.queryExecution().executedPlan().toString()


def test_label_spread_majority_ties_and_orphans(spark):
    from aurora_mito_etl_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "en"), (2, "en"), (3, None), (4, "de"),   # comp {1,2,3,4}: en wins 2-1
            (5, "fr"), (6, "de"),                          # comp {5,6}: tie -> 'de'
            (7, None), (8, None),                          # comp {7,8}: all unlabeled
            (9, "it"),                                     # singleton: keeps own
            (10, None),                                    # unlabeled singleton: NULL
        ],
        "doc_id long, seed string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (7, 8)], "id_a long, id_b long"
    )
    out = {
        r["doc_id"]: r["label"]
        for r in dd.label_spread(docs, pairs, "doc_id", "seed").collect()
    }
    assert out[1] == out[2] == out[3] == out[4] == "en"
    assert out[5] == out[6] == "de"          # tie 1-1 -> min label
    assert out[7] is None and out[8] is None  # all-unlabeled component
    assert out[9] == "it" and out[10] is None


def test_minhash_est_audit_consistency(spark):
    """The audit's per-match-count rows must reconcile EXACTLY with
    the registered pairs query: Σ n_true == pairs above the verify
    bar, identical docs land in the full-match row, and every
    estimate/precision/mean sits on its defined grid."""
    d = _docs(spark)
    audit = dd.minhash_est_audit(
        d, "text", "doc_id", k_shingle=3, num_hashes=16, bands=4, threshold=0.3
    ).collect()
    assert audit, "banded candidates expected on the dup-heavy corpus"
    for r in audit:
        assert 0 <= r["matches"] <= 16
        # every k/16 terminates within 4 decimals — fixed6-exact
        assert r["est_jaccard"] == r["matches"] / 16
        assert 0 <= r["n_true"] <= r["n_pairs"]
        assert 0.0 <= r["precision"] <= 1.0
        assert 0.0 <= r["mean_exact"] <= 1.0
    # docs 0/1 are byte-identical -> all 16 slots equal, exact J=1
    full = [r for r in audit if r["matches"] == 16]
    assert full and full[0]["n_pairs"] >= 1
    assert full[0]["mean_exact"] > 0.5
    pairs = dd.minhash_lsh_pairs(
        d, "text", "doc_id", k_shingle=3, num_hashes=16, bands=4,
        threshold=0.3, portable_hash=True,
    ).collect()
    assert sum(r["n_true"] for r in audit) == len(pairs)


def test_label_centroid_cosines(spark):
    """Hand-checkable centroid geometry: orthogonal / parallel /
    diagonal labels, the zero-centroid NULL guard, and the exclusion
    contract (NULL label, NULL vector, short vector, NULL element)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.0, 0.0, 0.0], 0),       # label 0 centroid (1,0,0,0)
        (2, [0.0, 2.0, 0.0, 0.0], 1),       # label 1 centroid (0,2,0,0)
        (3, [1.0, 1.0, 0.0, 0.0], 2),       # label 2 centroid (1,1,0,0)
        (4, [0.0, 0.0, 0.0, 0.0], 3),       # label 3 zero centroid
        (5, [9.0, 9.0, 9.0, 9.0], None),    # NULL label: excluded
        (6, None, 0),                        # NULL vector: excluded
        (7, [1.0, 2.0], 0),                  # short vector: excluded
        (8, [1.0, None, 0.0, 0.0], 1),       # NULL element: excluded
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {
        (r["label_a"], r["label_b"]): r
        for r in sim.label_centroid_cosines(df, "embedding", "label", dim=4).collect()
    }
    assert len(out) == 6  # labels {0,1,2,3} -> 4C2 pairs
    assert out[(0, 1)]["n_a"] == 2 and out[(0, 1)]["n_b"] == 1
    assert out[(0, 1)]["cos_centroid"] == 0.0                      # orthogonal
    assert out[(0, 2)]["cos_centroid"] == pytest.approx(
        1 / math.sqrt(2), abs=1e-6
    )
    assert out[(1, 2)]["cos_centroid"] == pytest.approx(
        1 / math.sqrt(2), abs=1e-6
    )
    for other in (0, 1, 2):
        assert out[(other, 3)]["cos_centroid"] is None             # zero norm


def test_label_outlier_topk(spark):
    """Hand-checkable outlier mining: the vector opposite its label
    centroid ranks first (ascending cosine), near-centroid members
    rank by (score, id), zero-norm rows score NULL and never outrank
    a defined score (NULLS LAST)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.1, 0.0, 0.0], 0),
        (2, [1.0, -0.1, 0.0, 0.0], 0),
        (3, [-1.0, 0.0, 0.0, 0.0], 0),   # opposite of the (0.5,0,0,0) centroid
        (4, [0.0, 0.0, 0.0, 0.0], 1),    # zero vector: NULL score
        (5, [0.0, 1.0, 0.0, 0.0], 1),
        (6, None, 0),                     # excluded
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = sim.label_outlier_topk(
        df, "embedding", "vec_id", "label", k=2, dim=4
    ).collect()
    got = {(r["label"], r["rank"]): r for r in out}
    assert len(out) == 4
    assert got[(0, 1)]["vec_id"] == 3
    assert got[(0, 1)]["cos_centroid"] == -1.0
    # v1 and v2 tie on cosine (symmetric about the centroid) -> id
    assert got[(0, 2)]["vec_id"] == 1
    assert got[(1, 1)]["vec_id"] == 5 and got[(1, 1)]["cos_centroid"] == 1.0
    assert got[(1, 2)]["vec_id"] == 4 and got[(1, 2)]["cos_centroid"] is None


def test_centroid_confusion(spark):
    """Hand-checkable confusion cells: a label-0 row sitting on label
    1's centroid lands in the (0, 1) off-diagonal cell; zero-norm rows
    and NULL labels are excluded (the zero row still counts toward its
    label's centroid)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [1.0, 0.1, 0.0, 0.0], 0),
        (2, [0.0, 1.0, 0.0, 0.0], 0),    # actually label-1-shaped
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [0.1, 1.0, 0.0, 0.0], 1),
        (5, [0.0, 0.0, 0.0, 0.0], 1),    # zero row: no direction
        (6, [9.0, 9.0, 9.0, 9.0], None),  # NULL label: excluded
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {
        (r["label_true"], r["label_pred"]): r["n"]
        for r in sim.centroid_confusion(
            df, "embedding", "vec_id", "label", dim=4
        ).collect()
    }
    assert out == {(0, 0): 2, (0, 1): 1, (1, 1): 2}
