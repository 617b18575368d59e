"""Sequence packing + mixture sampling (operators/packing.py)."""

from __future__ import annotations

from aurora_mito_etl_spark.operators import packing as pk


def _rows(spark, data):
    return spark.createDataFrame(data, "doc_id long, source string, text string")


def test_pack_offsets_and_spans(spark):
    # shard A: 6 + 3 + 4 tokens, capacity 5
    df = _rows(
        spark,
        [
            (1, "A", "a b c d e f"),      # start 0, packs 0-1 → spans 2
            (2, "A", "g h i"),            # start 6, pack 1
            (3, "A", "j k l m"),          # start 9, packs 1-2 → spans 2
        ],
    )
    out = {
        r["doc_id"]: r
        for r in pk.pack_sequences(df, capacity=5).collect()
    }
    assert (out[1]["start_offset"], out[1]["pack_id"], out[1]["offset_in_pack"]) == (0, 0, 0)
    assert out[1]["n_packs_spanned"] == 2
    assert (out[2]["start_offset"], out[2]["pack_id"], out[2]["offset_in_pack"]) == (6, 1, 1)
    assert out[2]["n_packs_spanned"] == 1
    assert (out[3]["start_offset"], out[3]["pack_id"]) == (9, 1)
    assert out[3]["n_packs_spanned"] == 2


def test_pack_shards_are_independent(spark):
    df = _rows(
        spark,
        [(1, "A", "a b c"), (2, "B", "x y"), (3, "A", "d e"), (4, "B", "z")],
    )
    out = {r["doc_id"]: r for r in pk.pack_sequences(df, capacity=4).collect()}
    # each shard's stream starts at 0 regardless of the other shard
    assert out[1]["start_offset"] == 0 and out[2]["start_offset"] == 0
    assert out[3]["start_offset"] == 3 and out[4]["start_offset"] == 2


def test_pack_empty_and_null_docs(spark):
    df = _rows(spark, [(1, "A", "a b"), (2, "A", ""), (3, "A", None), (4, "A", "c")])
    out = {r["doc_id"]: r for r in pk.pack_sequences(df, capacity=10).collect()}
    assert out[2]["n_tokens"] == 0 and out[2]["n_packs_spanned"] == 0
    assert out[3]["n_tokens"] == 0
    assert out[4]["start_offset"] == 2  # empties consume no tokens


def test_mixture_rates_and_determinism(spark):
    data = [
        (i, f"src{i % 4}", "t") for i in range(400)
    ]  # 100 rows per source
    df = _rows(spark, data)
    targets = {"src0": 0.5, "src1": 0.25, "src2": 0.25}
    out = pk.mixture_sample(df, targets)
    rows = out.collect()
    # scarcest source pins T = min(100/0.5)=200 → rates 1.0/0.5/0.5
    rates = {r["source"]: r["mix_rate"] for r in rows}
    assert rates["src0"] == 1.0
    assert rates["src1"] == 0.5 and rates["src2"] == 0.5
    # src3 absent from targets → dropped entirely
    assert "src3" not in rates
    kept0 = sum(1 for r in rows if r["source"] == "src0")
    assert kept0 == 100  # rate 1.0 keeps everything
    # deterministic: identical rerun
    again = {(r["doc_id"]) for r in pk.mixture_sample(df, targets).collect()}
    assert {r["doc_id"] for r in rows} == again


def test_mixture_never_upsamples(spark):
    df = _rows(spark, [(i, "src0" if i < 10 else "src1", "t") for i in range(110)])
    out = pk.mixture_sample(df, {"src0": 0.9, "src1": 0.1})
    rates = {r["source"]: r["mix_rate"] for r in out.collect()}
    assert all(v <= 1.0 for v in rates.values())
    assert rates["src0"] == 1.0  # scarce source fully kept, never duplicated


def test_assign_contiguous_ids_matches_global_rank(spark):
    from aurora_mito_etl_spark.operators.rownum import assign_contiguous_ids

    # scrambled, gappy keys across many partitions
    rows = [(k * 7 % 1009, f"v{k}") for k in range(1009)]
    df = spark.createDataFrame(rows, "k long, v string").repartition(13)
    got = assign_contiguous_ids(df, "k", "seq").collect()
    assert len(got) == 1009
    by_key = sorted(got, key=lambda r: r["k"])
    # dense, 0-based, ordered by k, no duplicates
    assert [r["seq"] for r in by_key] == list(range(1009))
    # payload column rides along untouched: original rows were
    # (k*7 % 1009, f"v{k}"), and 7^-1 mod 1009 = 865
    assert all(r["v"] == f"v{(r['k'] * 865) % 1009}" for r in got)


def test_assign_contiguous_ids_plan_has_no_global_sort(spark):
    from pyspark.sql import functions as F

    from aurora_mito_etl_spark.operators.rownum import assign_contiguous_ids

    df = spark.range(1000).select(F.col("id").alias("k"))
    # the pre-checkpoint ordering stage must be a rangepartitioning
    # exchange + within-partition sort — never a SinglePartition
    # exchange (what a bare row_number() window would require)
    staged = df.repartitionByRange(8, F.col("k")).sortWithinPartitions("k")
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan
    assert "Window" not in plan
    # and the full operator runs as MapInArrow over that layout
    out = assign_contiguous_ids(df, "k", "seq")
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in final and "Window" not in final


def test_assign_contiguous_ids_rejects_null_keys(spark):
    """NULL order keys would sort NULLS FIRST in Spark but NULLS LAST
    in a DuckDB row_number() oracle — the guard fails fast instead of
    letting a regenerated-testdata round silently diverge (ADVICE r6)."""
    import pytest

    from aurora_mito_etl_spark.operators.rownum import assign_contiguous_ids

    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (3, "c")], "k long, v string"
    )
    # r14: the guard moved into the in-plan carry task — it raises at
    # the action (PythonException), not at DataFrame build.
    with pytest.raises(Exception, match="NULL"):
        assign_contiguous_ids(df, "k", "seq").collect()


def test_assign_contiguous_ids_composite_nulls_last(spark):
    """Composite order key with nulls_last=True matches the
    row_number window over (asc_nulls_last(a), b) exactly — the
    ordering convention DuckDB shares — including NULL and duplicate
    values in the leading column (r13: customer_balance_quartiles'
    scale-safe re-shape rides on this)."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aurora_mito_etl_spark.operators.rownum import assign_contiguous_ids

    rng = random.Random(17)
    rows = [
        (i, rng.choice([None, 0.0, -5.25, 17.5, 17.5, 99.0]))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "k long, bal double").repartition(7)
    got = {
        r["k"]: r["seq"]
        for r in assign_contiguous_ids(
            df, ["bal", "k"], "seq", nulls_last=True
        ).collect()
    }
    w = Window.orderBy(F.asc_nulls_last("bal"), "k")
    want = {
        r["k"]: r["seq"]
        for r in df.select(
            "k", (F.row_number().over(w) - 1).alias("seq")
        ).collect()
    }
    assert got == want
    # NULLs without nulls_last stay rejected (engine-dependent order)
    import pytest

    with pytest.raises(Exception, match="NULL"):
        assign_contiguous_ids(df, ["bal", "k"], "seq").collect()
    # duplicate COMPOSITE keys rejected, including the all-NULL pair
    dup = spark.createDataFrame(
        [(1, None), (1, None), (2, 3.0)], "k long, bal double"
    )
    with pytest.raises(Exception, match="duplicate"):
        assign_contiguous_ids(dup, ["bal", "k"], "s", nulls_last=True).collect()


def test_assign_contiguous_ids_rejects_duplicate_keys(spark):
    """Duplicate order keys make the assignment partition-dependent;
    range partitioning co-locates equal keys and each partition is
    sorted, so the adjacent-value check catches every duplicate."""
    import pytest

    from aurora_mito_etl_spark.operators.rownum import assign_contiguous_ids

    rows = [(k, f"v{k}") for k in range(50)] + [(25, "dup")]
    df = spark.createDataFrame(rows, "k long, v string").repartition(4)
    with pytest.raises(Exception, match="duplicate"):
        assign_contiguous_ids(df, "k", "seq").collect()
