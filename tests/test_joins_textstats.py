from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from aurora_mito_etl_spark.operators import joins as j
from aurora_mito_etl_spark.operators import textstats as ts


def test_semi_anti_join(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    keys = spark.createDataFrame([(1,), (3,)], "k int")
    assert sorted(r["k"] for r in j.semi_join(df, keys, "k").collect()) == [1, 3]
    assert [r["k"] for r in j.anti_join(df, keys, "k").collect()] == [2]


def test_two_tier_lookup_prefers_exact(spark):
    df = spark.createDataFrame([("Metformin",), ("METFORMIN",), ("unknown",)], "name string")
    lk = spark.createDataFrame(
        [("Metformin", "CN(C)C(=N)NC(=N)N"), ("metformin", "lowercase-entry")],
        "k string, v string",
    )
    out = j.lookup_join_two_tier(df, lk, "name", "k", "v", "smiles", default="")
    got = {r["name"]: r["smiles"] for r in out.collect()}
    assert got["Metformin"] == "CN(C)C(=N)NC(=N)N"  # exact tier wins
    assert got["METFORMIN"] == "CN(C)C(=N)NC(=N)N"  # falls to lowercase tier, min() winner
    assert got["unknown"] == ""


def test_tag_semi_join_distinct(spark):
    fact = spark.createDataFrame(
        [("p1", "MESH:D1"), ("p1", "MESH:D1"), ("p2", "MESH:D9"), ("p3", "MESH:D2")],
        "pmid string, tag string",
    )
    tags = spark.createDataFrame([("MESH:D1",), ("MESH:D2",)], "tag string")
    out = j.tag_semi_join_distinct(fact, tags, "tag", "pmid")
    assert sorted(r["pmid"] for r in out.collect()) == ["p1", "p3"]


def test_range_join(spark):
    vals = spark.createDataFrame([(5,), (15,), (25,)], "v int")
    bins = spark.createDataFrame(
        [(0, 10, "low"), (10, 20, "mid"), (20, 30, "high")], "lo int, hi int, lab string"
    )
    out = j.range_join(vals, bins, "v", "lo", "hi")
    got = {r["v"]: r["lab"] for r in out.collect()}
    assert got == {5: "low", 15: "mid", 25: "high"}


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog sat in the sun",),
            ("el perro y el gato en la casa por la noche",),
            ("der hund und die katze ist nicht da",),
            ("zzz qqq xxx",),
        ],
        "text string",
    )
    got = [r["l"] for r in df.select(ts.lang_id(F.col("text")).alias("l")).collect()]
    assert got == ["en", "es", "de", "und"]


def test_token_counts(spark):
    df = spark.createDataFrame([("Hello, world! x2",)], "text string")
    row = df.select(
        ts.token_count_ws(F.col("text")).alias("ws"),
        ts.token_count_bpe(F.col("text")).alias("bpe"),
    ).collect()[0]
    assert row["ws"] == 3
    # Hello , world ! x 2 → 6 BPE-ish tokens
    assert row["bpe"] == 6


def test_quality_score_range(spark):
    df = spark.createDataFrame(
        [("A clean readable sentence with normal words here.",), ("!!!!",)],
        "text string",
    )
    got = [r["q"] for r in df.select(ts.quality_score(F.col("text")).alias("q")).collect()]
    assert 0.0 <= got[1] < got[0] <= 1.0


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([("one two",), ("one two three four",)], "text string")
    got = [r["s"] for r in df.select(ts.shingles(F.col("text"), 3).alias("s")).collect()]
    assert got[0] == []
    assert got[1] == ["one two three", "two three four"]


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame([("A  B\tC",), ("a b c",)], "text string")
    got = [r["f"] for r in df.select(ts.fingerprint_md5(F.col("text")).alias("f")).collect()]
    assert got[0] == got[1]


def test_repetition_signals(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # 1 distinct / 4 total
            (2, "all words here are different"),  # no repetition
            (3, "  "),                            # wordless → zeros
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ts.repetition_signals(df, "text", "doc_id").collect()}
    assert out[1]["total_words"] == 4 and out[1]["distinct_words"] == 1
    assert out[1]["dup_word_frac"] == 0.75 and out[1]["top_word_frac"] == 1.0
    assert out[2]["dup_word_frac"] == 0.0
    assert out[3]["total_words"] == 0 and out[3]["dup_word_frac"] == 0.0


def test_hash_sample_deterministic_and_disjoint_salts(spark):
    from aurora_mito_etl_spark.operators import sampling as sp

    df = spark.createDataFrame([(i,) for i in range(2000)], "id long")
    a1 = {r["id"] for r in sp.hash_sample(df, "id", 0.3, salt="a").collect()}
    a2 = {r["id"] for r in sp.hash_sample(df, "id", 0.3, salt="a").collect()}
    b = {r["id"] for r in sp.hash_sample(df, "id", 0.3, salt="b").collect()}
    assert a1 == a2                      # reproducible
    assert 0.2 < len(a1) / 2000 < 0.4    # ~rate
    assert a1 != b                       # independent arms
    # nested rates: a 10% sample is a subset of the 30% sample (same salt)
    c = {r["id"] for r in sp.hash_sample(df, "id", 0.1, salt="a").collect()}
    assert c <= a1


def test_stratified_sample_fixed_counts(spark):
    from aurora_mito_etl_spark.operators import sampling as sp

    rows = [(i, "s%d" % (i % 3)) for i in range(90)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, "id long, src string")
    out = sp.stratified_sample_fixed(df, "src", "id", 5).groupBy("src").count()
    got = {r["src"]: r["count"] for r in out.collect()}
    assert got == {"s0": 5, "s1": 5, "s2": 5, "tiny": 1}  # capped per stratum
    # deterministic winners
    again = sp.stratified_sample_fixed(df, "src", "id", 5)
    assert {tuple(r) for r in again.collect()} == {
        tuple(r) for r in sp.stratified_sample_fixed(df, "src", "id", 5).collect()
    }


def test_split_train_holdout_partition(spark):
    from aurora_mito_etl_spark.operators import sampling as sp

    df = spark.createDataFrame([(i,) for i in range(500)], "id long")
    train, hold = sp.split_train_holdout(df, "id", 0.2)
    t = {r["id"] for r in train.collect()}
    h = {r["id"] for r in hold.collect()}
    assert t | h == set(range(500)) and not (t & h)  # exhaustive + disjoint
    assert 50 <= len(h) <= 150


def test_ngram_repetition_signals(spark):
    docs = spark.createDataFrame(
        [
            # 'spam spam' 2-gram dominates → top2 fraction near 1
            (1, "spam spam spam spam spam spam spam spam"),
            # varied text (long enough that no single 2-gram clears
            # the 20% character threshold) → kept
            (2, " ".join(f"w{i} x{i * 7 % 31}" for i in range(40))),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ts.ngram_repetition_signals(docs).collect()}
    assert out[1]["top2_char_frac"] > 0.9 and out[1]["repetition_keep"] is False
    assert out[1]["dup3_char_frac"] == 1.0  # every 3-gram repeats
    assert out[2]["repetition_keep"] is True
    for i in (3, 4):  # no grams → 0.0 and kept, never NULL
        assert out[i]["top2_char_frac"] == 0.0
        assert out[i]["repetition_keep"] is True


def test_ngram_repetition_tie_break_deterministic(spark):
    # two 2-grams each occur once; the lexicographically smallest must
    # win the top slot in every run/partitioning
    docs = spark.createDataFrame([(1, "b a c")], "doc_id long, text string")
    a = ts.ngram_repetition_signals(docs).collect()[0]
    b = ts.ngram_repetition_signals(docs.repartition(7)).collect()[0]
    assert a["top2_char_frac"] == b["top2_char_frac"]
    # winner is 'a c' (3 chars · 1) over 'b a' — smallest gram wins;
    # frac = 3/5
    assert a["top2_char_frac"] == 0.6


def test_epoch_shuffle_is_a_permutation(spark):
    from aurora_mito_etl_spark.operators import sampling as sp

    df = spark.createDataFrame([(i,) for i in range(500)], "id long")
    out = sp.epoch_shuffle(df, "id", epoch=3, n_shards=8).collect()
    assert len(out) == 500
    # pos is 1..count within each shard (a dense per-shard ordering)
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    # deterministic: same epoch → identical coordinates
    again = sp.epoch_shuffle(df, "id", epoch=3, n_shards=8).collect()
    assert {(r["id"], r["shard"], r["pos"]) for r in out} == {
        (r["id"], r["shard"], r["pos"]) for r in again
    }
    # different epoch → a different order (some coordinate moved)
    other = sp.epoch_shuffle(df, "id", epoch=4, n_shards=8).collect()
    assert {(r["id"], r["shard"], r["pos"]) for r in out} != {
        (r["id"], r["shard"], r["pos"]) for r in other
    }


def test_weighted_sample_proportional_and_deterministic(spark):
    from aurora_mito_etl_spark.operators import sampling as sp

    # two weight classes: weight 50 vs weight 1 — heavy rows must
    # dominate the sample across independent salts
    rows = [(i, 50 if i < 100 else 1) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, w int")
    heavy_share = []
    for salt in ("s1", "s2", "s3"):
        got = sp.weighted_sample(df, "id", "w", k=60, salt=salt).collect()
        assert len(got) == 60
        heavy_share.append(sum(1 for r in got if r["id"] < 100) / 60)
    # heavy rows are 100/300 of the pool but 50/52 of the mass; with
    # k=60 the expected heavy share is >0.9 — 0.7 is a >6-sigma floor
    assert min(heavy_share) > 0.7
    # deterministic per salt
    a = [tuple(r) for r in sp.weighted_sample(df, "id", "w", k=60).collect()]
    b = [tuple(r) for r in sp.weighted_sample(df, "id", "w", k=60).collect()]
    assert a == b
    # zero/negative weights are the caller's problem; keys ascend
    assert a == sorted(a, key=lambda t: (t[2], t[0]))


def test_weighted_sample_plan_is_distributed_topk(spark):
    from aurora_mito_etl_spark.operators import sampling as sp

    df = spark.createDataFrame([(i, 1) for i in range(100)], "id long, w int")
    plan = (
        sp.weighted_sample(df, "id", "w", k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan  # no global Sort+Exchange


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from aurora_mito_etl_spark.operators import sampling as sp

    df = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, None), (4, 1.0), (5, 2.0)],
        "id long, w double",
    )
    got = {r["id"] for r in sp.weighted_sample(df, "id", "w", k=5).collect()}
    # A-Res requires w > 0: zero/negative/NULL weights must have zero
    # inclusion probability, never preferential (their keys previously
    # sorted FIRST — NULL/negative under ascending order)
    assert got == {4, 5}


def test_heavy_hitters_exact_vs_naive(spark):
    rows = [("aa " * 30 + "bb " * 10 + "cc " * 3 + f"u{i}",) for i in range(40)]
    df = spark.createDataFrame(rows, "text string")
    got = {
        (r["token"], r["cnt"], r["exact_guaranteed"])
        for r in ts.heavy_hitter_tokens(df, "text", top_n=3).collect()
    }
    # naive exact ranking
    naive = (
        df.select(F.explode(ts.tokens_expr(F.col("text"))).alias("t"))
        .where(F.col("t") != "")
        .groupBy("t")
        .count()
        .orderBy(F.desc("count"), F.asc("t"))
        .limit(3)
        .collect()
    )
    assert got == {(r["t"], r["count"], True) for r in naive}


def test_heavy_hitters_decrement_path_and_partition_invariance(spark):
    # counters=4 forces Misra-Gries reductions; the skewed head is far
    # above n/(counters+1) so the result must stay exact AND invariant
    # to the input partitioning.
    text = "hot " * 400 + "warm " * 200 + " ".join(f"cold{i}" for i in range(300))
    df = spark.createDataFrame([(text,)], "text string")
    # n = 900 tokens, guarantee threshold n/(counters+1) = 180: both
    # emitted rows clear it, so exactness is provable, not incidental.
    expected = [("hot", 400, True), ("warm", 200, True)]
    for parts in (1, 7):
        out = (
            ts.heavy_hitter_tokens(
                df.repartition(parts), "text", top_n=2, counters=4
            )
            .orderBy(F.desc("cnt"))
            .collect()
        )
        assert [(r["token"], r["cnt"], r["exact_guaranteed"]) for r in out] == expected


def test_heavy_hitters_counts_exact_even_without_guarantee(spark):
    # Flat distribution + tiny sketch: selection may be incomplete,
    # but every emitted count must still be the exact corpus count and
    # the guarantee flag must be False.
    text = " ".join(f"w{i} w{i}" for i in range(50))  # 50 tokens, count 2 each
    df = spark.createDataFrame([(text,)], "text string")
    out = ts.heavy_hitter_tokens(df, "text", top_n=5, counters=3).collect()
    assert all(r["cnt"] == 2 and not r["exact_guaranteed"] for r in out)


def test_ngram_diversity_counts(spark):
    """Known tiny corpus: totals/distincts/ratios per order, and the
    F.transform index-lambda regression (orders must NOT bleed: a
    two-arg lambda would receive the array index as `n`)."""
    from aurora_mito_etl_spark.operators import textstats as ts

    rows = [
        (0, "a b a", "s0"),
        (1, "a b a", "s0"),     # duplicate doc halves distinct ratios
        (2, None, "s1"),
        (3, "   ", "s1"),       # all-empty source: absent from output
        (4, "x", "s2"),         # single token: no 2/3-grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in ts.ngram_diversity(df, "text", "source").collect()}
    assert set(got) == {"s0", "s2"}
    s0 = got["s0"]
    assert (s0["total_1"], s0["distinct_1"]) == (6, 2)
    assert (s0["total_2"], s0["distinct_2"]) == (4, 2)
    assert (s0["total_3"], s0["distinct_3"]) == (2, 1)
    assert s0["ratio_1"] == 0.333333
    assert s0["ratio_2"] == 0.5
    assert s0["ratio_3"] == 0.5
    s2 = got["s2"]
    assert (s2["total_1"], s2["distinct_1"], s2["ratio_1"]) == (1, 1, 1.0)
    assert (s2["total_2"], s2["ratio_2"]) == (0, 0.0)
    assert (s2["total_3"], s2["ratio_3"]) == (0, 0.0)


def test_line_language_report(spark):
    """Multi-line mixed doc: dominant by line count with (count desc,
    code asc) tie-break; blank-only docs absent; 'und' counts as a
    language of its own."""
    from aurora_mito_etl_spark.operators import textstats as ts

    en = "the cat and the dog is that with"
    de = "der hund und die katze ist nicht ein"
    rows = [
        (0, en + "\n" + en + "\n" + de, "s"),     # 2 en + 1 de
        (1, "\n   \n\t\n", "s"),                  # blank lines only
        (2, "zzz qqq", "s"),                      # single und line
        (3, en + "\n" + de, "s"),                 # 1-1 tie -> de < en wins asc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["doc_id"]: r for r in ts.line_language_report(df).collect()}
    assert set(got) == {0, 2, 3}
    assert got[0]["dominant_lang"] == "en"
    assert got[0]["n_lines"] == 3 and got[0]["n_langs"] == 2
    assert got[0]["dominant_frac"] == 0.666667
    assert got[0]["is_mixed"] is True
    assert got[2]["dominant_lang"] == "und"
    assert got[2]["is_mixed"] is False and got[2]["dominant_frac"] == 1.0
    assert got[3]["dominant_lang"] == "de"     # tie at 1 line each
    assert got[3]["n_langs"] == 2


def test_source_ngram_overlap_hand_computed(spark):
    """3-gram sets: A = {'a b c','b c d'} (from 'a b c d'),
    B = {'b c d','c d e'} (from 'b c d e'), C = {'x y z'}.
    A∩B = {'b c d'} -> jaccard 1/3; C shares nothing -> pairs with C
    are omitted. Duplicate docs must not inflate distinct sets, and
    sub-3-token / empty docs contribute nothing."""
    rows = [
        (0, "a b c d", "A"),
        (1, "a  b\tc d", "A"),      # same grams after ws squeeze
        (2, "b c d e", "B"),
        (3, "x y z", "C"),
        (4, "tiny", "C"),            # < 3 tokens -> no grams
        (5, "", "C"),
        (6, None, "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r["source_a"], r["source_b"]): r
        for r in ts.source_ngram_overlap(df, "text", "source", n=3).collect()
    }
    assert set(got) == {("A", "B")}
    r = got[("A", "B")]
    assert r["grams_a"] == 2 and r["grams_b"] == 2 and r["shared"] == 1
    assert r["jaccard"] == 0.333333        # 1/3 on the fixed6 grid
    assert r["containment_a"] == 0.5 and r["containment_b"] == 0.5


def test_char_entropy_report(spark):
    import math

    from aurora_mito_etl_spark.functions.numeric import fixed6_py
    from aurora_mito_etl_spark.operators import textstats as ts

    df = spark.createDataFrame(
        [
            (1, "aabb"),
            (2, "aaaa"),
            (3, ""),
            (4, None),
            (5, "\U0001f600\U0001f600aa"),  # astral chars count ONE each
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_chars_counted"],
            r["n_distinct_chars"],
            r["char_entropy"],
        )
        for r in ts.char_entropy_report(df).collect()
    }
    ln2 = -2 * fixed6_py(0.5 * math.log(0.5))
    assert got[1] == (4, 2, ln2)
    assert abs(got[1][2] - math.log(2)) < 1e-5
    # constant text: the single contribution is 1*ln(1) = 0 -> +/-0.0
    assert got[2][:2] == (4, 1) and got[2][2] == 0.0
    assert got[3] == (0, 0, None)
    assert got[4] == (0, 0, None)
    assert got[5] == (4, 2, ln2)


def test_ngram_diversity_null_group(spark):
    # r11 fuzz find (mixed-NULL source arm): a NULL group key must
    # emit its row — both groupBys keep it, and the totals⋈distincts
    # join is null-safe; a bare equi-join silently dropped it while
    # the oracle's UNION-ALL shape kept it.
    df = spark.createDataFrame(
        [(None, "a b a"), ("s1", "x y")], "source string, text string"
    )
    got = {
        r["source"]: r
        for r in ts.ngram_diversity(df, "text", "source").collect()
    }
    assert None in got and "s1" in got
    assert got[None]["total_1"] == 3 and got[None]["distinct_1"] == 2


def test_source_keywords_distinctive_terms(spark):
    """Source-exclusive tokens must outrank shared ones: the smoothed
    idf gives a source-exclusive token (df=1) a strictly higher
    per-occurrence score than an everywhere token (df=N), so at equal
    tf the exclusive token ranks first; single-source-corpus inputs
    degrade to frequency ranking (idf constant 1.0)."""
    from aurora_mito_etl_spark.plans.queries import QUERIES
    import pyspark.sql.functions as F

    rows = [
        (0, "alpha alpha shared shared shared", "en", "s1", 30),
        (1, "alpha shared", "en", "s1", 12),
        (2, "beta beta beta shared shared shared shared", "en", "s2", 40),
        (3, None, "en", None, 0),  # NULL source: excluded
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("___kw_docs")
    import aurora_mito_etl_spark.plans.queries as q
    import aurora_mito_etl_spark.operators.textstats as ts
    from aurora_mito_etl_spark.operators import similarity as sim
    from aurora_mito_etl_spark.functions.numeric import fixed6

    # drive the registered builder against the in-memory frame by
    # monkeypatching load_table for this call
    orig = q.load_table
    try:
        q.load_table = lambda _s, _d, _n: df
        out = QUERIES["docs_source_keywords"](spark, "unused").collect()
    finally:
        q.load_table = orig
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # s1: 'alpha' tf=3 df=1 beats 'shared' tf=4 df=2
    s1 = by_src["s1"]
    assert s1[0]["token"] == "alpha" and s1[0]["rank"] == 1
    assert s1[0]["df_sources"] == 1 and s1[0]["tf"] == 3
    assert s1[1]["token"] == "shared" and s1[1]["tf"] == 4
    # s2: 'beta' exclusive outranks 'shared'
    s2 = by_src["s2"]
    assert s2[0]["token"] == "beta" and s2[1]["token"] == "shared"
    assert None not in by_src  # NULL source dropped


def test_heaps_fit_hand_points(spark):
    """The per-doc cumulative points and the OLS fit are exactly the
    hand-computed values; a single-point source fits NULL (the
    zero-variance guard)."""
    import math
    from aurora_mito_etl_spark.functions.numeric import fixed6_py
    from aurora_mito_etl_spark.plans.queries import QUERIES
    import aurora_mito_etl_spark.plans.queries as q

    rows = [
        (0, "a b", "en", "s1", 3),     # cum (2 toks, 2 types)
        (1, "a c", "en", "s1", 3),     # cum (4, 3)
        (2, "a a", "en", "s1", 3),     # cum (6, 3)
        (3, "x y z", "en", "s2", 5),   # single point -> NULL fit
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    orig = q.load_table
    try:
        q.load_table = lambda _s, _d, _n: df
        out = {r["source"]: r for r in QUERIES["docs_heaps_fit"](spark, "x").collect()}
    finally:
        q.load_table = orig
    assert out["s2"]["n_points"] == 1
    assert out["s2"]["heaps_beta"] is None and out["s2"]["heaps_logk"] is None
    s1 = out["s1"]
    assert s1["n_points"] == 3
    xs = [fixed6_py(math.log(v)) for v in (2, 4, 6)]
    ys = [fixed6_py(math.log(v)) for v in (2, 3, 3)]
    n = 3.0
    sx, sy = sum(xs), sum(ys)
    sxx = sum(v * v for v in xs)
    sxy = sum(a * b for a, b in zip(xs, ys))
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    logk = (sy - beta * sx) / n
    assert s1["heaps_beta"] == pytest.approx(beta, abs=2e-6)
    assert s1["heaps_logk"] == pytest.approx(logk, abs=2e-6)
    assert 0.0 < s1["heaps_beta"] < 1.0


_SQL_TOKENIZER_RE = re.compile(r"string_split(_regex)?\s*\(\s*lower\s*\(", re.I)


def _tokenizer_chains(pkg: Path) -> list[str]:
    """Every hand-written tokenizer in the package source: the Column
    chains `F.split(F.lower(F.trim(F.regexp_replace(x, r"\\s+", " "))),
    " ")` and `F.split(F.lower(F.trim(x)), r"\\s+")` outside
    textstats.tokens_expr, and any string constant or f-string part
    spelling `string_split(lower(` or `string_split_regex(lower(`
    outside textstats.tokens_sql."""

    def attr(node, name: str) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == name
            and bool(node.args)
        )

    def ws_run(node) -> bool:
        return isinstance(node, ast.Constant) and node.value == r"\s+"

    hits = []
    for f in sorted(pkg.rglob("*.py")):
        tree = ast.parse(f.read_text())
        allowed: set[int] = set()
        if f == pkg / "operators" / "textstats.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name in (
                    "tokens_expr",
                    "tokens_sql",
                ):
                    allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if id(node) in allowed:
                continue
            where = f"{f.relative_to(pkg.parent)}:{getattr(node, 'lineno', '?')}"
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and _SQL_TOKENIZER_RE.search(node.value)
            ):
                hits.append(where)
                continue
            if not attr(node, "split"):
                continue
            low = node.args[0]
            if not (attr(low, "lower") and attr(low.args[0], "trim")):
                continue
            if len(node.args) > 1 and ws_run(node.args[1]):
                hits.append(where)
                continue
            rr = low.args[0].args[0]
            if attr(rr, "regexp_replace") and len(rr.args) > 1 and ws_run(rr.args[1]):
                hits.append(where)
    return hits


def test_tokenizer_chain_written_only_in_tokens_expr():
    """textstats.tokens_expr is THE Catalyst tokenization and
    textstats.tokens_sql its only SQL spelling; a hand-written copy can
    drift from them and silently de-synchronize token streams across
    paths."""
    pkg = Path(__file__).resolve().parent.parent / "aurora_mito_etl_spark"
    hits = _tokenizer_chains(pkg)
    assert not hits, "tokenizer chain outside tokens_expr/tokens_sql:\n" + "\n".join(hits)
