"""Physical-plan shape assertions (SURVEY §4): pushdown, pruning,
broadcast, codegen. These are the 100 TB guarantees — a plan that
reads all columns or shuffles a dimension join fails here even though
its values are correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aurora_mito_etl_spark.operators import text as tx
from aurora_mito_etl_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = QUERIES["pricing_summary"](spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark):
    df = QUERIES["docs_token_stats"](spark, SF)
    plan = plan_of(df)
    # only doc_id + text read out of the 5-column table
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_dimension_joins_broadcast(spark):
    plan = plan_of(QUERIES["revenue_by_nation"](spark, SF))
    # nation/region joins must be broadcast, never shuffled
    assert plan.count("BroadcastHashJoin") >= 2
    # the fact-fact joins shuffle on their keys (sort-merge or
    # shuffled-hash depending on stats) — but never nested-loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semi_and_anti_join_shapes(spark):
    semi = plan_of(QUERIES["order_priority_counts"](spark, SF))
    assert "LeftSemi" in semi
    anti = plan_of(QUERIES["customers_without_orders"](spark, SF))
    assert "LeftAnti" in anti


def test_whole_stage_codegen_covers_clean_chain(spark):
    plan = plan_of(QUERIES["docs_clean_text"](spark, SF))
    # the whole P12→P14→F6→P10 chain fuses into one codegen'd
    # projection ('*'/codegen id markers in formatted explain)
    assert "[codegen id :" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_partial_aggregation_before_shuffle(spark):
    plan = plan_of(QUERIES["pricing_summary"](spark, SF))
    # partial_ aggregate functions on the map side (one per dec_sum)
    assert "partial_sum" in plan or "partial_count" in plan


def test_range_join_broadcasts_interval_side(spark):
    plan = plan_of(QUERIES["lineitem_qty_range_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan  # tiny side broadcast


def test_ac_dispatch_small_vs_large(spark):
    df = spark.createDataFrame([("has rotenone",), ("clean",)], "s string")
    small = tx.dictionary_anti_filter(df, "s", ["rotenone"])
    assert "BatchEvalPython" not in plan_of(small)
    assert "ArrowEvalPython" not in plan_of(small)
    big_terms = [f"term{i:05d}" for i in range(300)] + ["rotenone"]
    big = tx.dictionary_anti_filter(df, "s", big_terms)
    assert "ArrowEvalPython" in plan_of(big)  # pandas-UDF AC path
    assert [r["s"] for r in big.collect()] == ["clean"]


def test_ac_automaton_cached_per_process():
    # The pandas-UDF batch fn must reuse one automaton per term tuple
    # (a worker sees many Arrow batches; per-batch rebuild of a large
    # trie rivals scan cost). Same tuple → same object; cache bounded.
    tx._AC_CACHE.clear()
    t1 = tuple(["alpha", "beta", "gamma"])
    a = tx._cached_automaton(t1)
    assert tx._cached_automaton(t1) is a  # no rebuild on second batch
    assert tx._cached_automaton(tuple(["alpha", "beta"])) is not a
    for i in range(tx._AC_CACHE_MAX + 2):  # eviction keeps it bounded
        tx._cached_automaton((f"t{i}",))
    assert len(tx._AC_CACHE) <= tx._AC_CACHE_MAX
    tx._AC_CACHE.clear()


def test_ac_automaton_semantics():
    ac = tx.AhoCorasick(["he", "she", "hers", "xyz"])
    assert ac.matches("ushers")  # overlapping patterns via fail links
    assert ac.matches("xyz at end")
    assert ac.matches("there")  # 'he' inside 'there'
    assert not ac.matches("nothing x-ish")
    assert not ac.matches("")
    # equivalence with regex path on random-ish inputs
    import re

    terms = ["abc", "bcd", "cde", "q"]
    ac2 = tx.AhoCorasick(terms)
    rx = re.compile("|".join(map(re.escape, terms)))
    for s in ["zabcz", "xxbcdxx", "cd", "qq", "", "ab cd e", "ccdde"]:
        assert ac2.matches(s) == bool(rx.search(s)), s


def test_quality_batteries_scan_speed_shape(spark):
    # Gopher/C4/PII are single codegen projections over a pruned scan:
    # no Exchange, no Python, only doc-cols read
    for q in ("docs_gopher_quality", "docs_c4_filter"):
        plan = plan_of(QUERIES[q](spark, SF))
        assert "Exchange" not in plan, q
        assert "EvalPython" not in plan, q
    pii = plan_of(QUERIES["docs_pii_redact"](spark, SF))
    assert "Exchange" not in pii and "EvalPython" not in pii
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in pii


def test_decontaminate_probe_broadcasts(spark):
    plan = plan_of(QUERIES["docs_decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # corpus side never sorts/shuffles for the probe


def test_mixture_sample_broadcasts_rates(spark):
    plan = plan_of(QUERIES["docs_mixture_sample"](spark, SF))
    # rate table (≤ #sources rows) broadcast; corpus filtered map-side
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dsir_models_broadcast(spark):
    plan = plan_of(QUERIES["docs_dsir_weights"](spark, SF))
    # the bucket-ratio model join must be broadcast (bounded by
    # num_buckets); only the per-doc weight agg may shuffle
    assert "BroadcastHashJoin" in plan


def test_exact_near_dup_is_distributed(spark):
    # the block-pair rewrite must keep the whole computation on
    # executors: tiles run as grouped-map Arrow (one Exchange on the
    # block-pair key), with no broadcast of vector data and no
    # cartesian anywhere
    plan = plan_of(QUERIES["emb_near_dup_exact"](spark, SF))
    assert "FlatMapGroupsInArrow" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" not in plan


def test_approx_percentile_partial_aggregation(spark):
    # the sketch must combine map-side (two HashAggregate phases
    # around one Exchange) — the property that makes it the bounded-
    # memory percentile at scale
    plan = plan_of(QUERIES["lineitem_price_percentiles_approx"](spark, SF))
    assert plan.count("HashAggregate") >= 2 or plan.count("ObjectHashAggregate") >= 2
    assert "approx_percentile" in plan


def test_dynamic_partition_pruning(spark, tmp_path):
    """A date-partitioned fact joined to a filtered dim on the
    partition column must carry a dynamicpruning partition filter —
    at 100 TB this is the difference between scanning 3 partitions
    and 3,000."""
    fact = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 10).cast("int").alias("day"),
        (F.col("id") * 2).alias("amount"),
    )
    fact.write.partitionBy("day").parquet(str(tmp_path / "fact"))
    dim = spark.createDataFrame(
        [(d, "keep" if d < 3 else "drop") for d in range(10)],
        "day int, tag string",
    )
    f = spark.read.parquet(str(tmp_path / "fact"))
    joined = f.join(F.broadcast(dim.where(F.col("tag") == "keep")), "day")
    plan = plan_of(joined)
    assert "dynamicpruning" in plan.lower()
    assert joined.count() == 300  # 3 of 10 day-partitions survive


def test_topk_tails_are_two_phase(spark):
    """Every ranking tail (similarity.topk) must
    be two-phase: a partition-local MapInArrow top-k BELOW the exact
    rank Window, so no single-partition sort of the full scored table
    survives (the VERDICT r5 scale-killer). In the formatted plan the
    Window's child chain must contain MapInArrow — i.e. the window
    ranks only the ≤ k·P survivors."""
    for qname in (
        "emb_pq_adc_topk",
        "emb_cosine_topk",
        "emb_lsh_topk",
        "emb_ivf_topk",
        "emb_ivfpq_topk",
        # per-source vocabulary rank tail (CLAUDE.md top-k rule)
        "docs_zipf_slope",
        # r12: per-label centroid-distance outlier tail (ascending)
        "emb_label_outliers",
        "emb_knn_classify",
        "emb_hard_negatives",
        "emb_hard_positives",
        "emb_ivfpq_rerank",
        "emb_ivfpq_recall",
        "emb_lsh_recall",
        "emb_dim_truncation_recall",
        "emb_rbo_overlap",
        "docs_source_keywords",
        # KMV bottom-k: the hash is both score and id
        "docs_host_distinct_kmv",
    ):
        plan = plan_of(QUERIES[qname](spark, SF))
        assert "MapInArrow" in plan, qname
        # formatted explain lists operators leaves-last in the tree
        # header; use the numbered operator list order: the
        # MapInArrow id must be HIGHER (deeper) than the Window's
        win = plan.index("Window")
        mip = plan.index("MapInArrow")
        assert mip > win, f"{qname}: MapInArrow not below Window\n{plan}"


def test_hits_chain_has_no_unpartitioned_window(spark):
    """VERDICT r10 ask #3: the HITS sup-norm normalize must be the
    broadcast 1-row-max join, never a `Window.partitionBy()` global
    window — the window form funnels all |V| post-aggregation rows
    through ONE task (invisible at event-type grain, a single-task
    sort at web-graph grain). The final plan covers the normalize
    tail (the only site windows ever appeared in this chain); the
    checkpoint boundaries hide earlier rounds, which run the
    IDENTICAL _normalize shape."""
    plan = plan_of(QUERIES["events_hits"](spark, SF))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_release_ranks_before_chemistry(spark):
    """build_release sorts before it scores: the chemistry kernel
    (ArrowEvalPython) sits above the orderBy's range Exchange, so the
    exchange's sample job and its map stage never run the Python
    kernel and each row is scored once."""
    from aurora_mito_etl_spark.operators import chem
    from aurora_mito_etl_spark.pipeline import finalize

    gpt = spark.createDataFrame(
        [("1", "YES", "Metformin"), ("2", "probablyYES", "Rotenone; Metformin")],
        "pmid string, confidence string, compound string",
    )
    refs = finalize.ReferenceData(
        known_inhibitors=["Piericidin"],
        blacklist_raw=[],
        typo_pairs=[],
        smiles_db={"Metformin": "CN(C)C(=N)NC(=N)N"},
        panel_smiles={"metformin": "CN(C)C(=N)NC(=N)N"},
        biguanide_refs={"biguanide": "NC(=N)NC(=N)N"},
    )
    _new, all_rows = finalize.build_release(
        gpt, refs, spark, backend_factory=chem.fake_backend
    )
    plan = all_rows._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("Exchange rangepartitioning") == 1
    assert plan.index("ArrowEvalPython") < plan.index("Exchange rangepartitioning")
