"""D5 LLM classify, S7 REST cache, D2-D4 chemistry plumbing."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from aurora_mito_etl_spark.operators import chem, llm, rest


# ---------------------------------------------------------------------------
# LLM parse + operator
# ---------------------------------------------------------------------------


def test_extract_pmid():
    assert llm.extract_pmid("PMID12345") == "12345"
    assert llm.extract_pmid("  123  ") == "123"
    assert llm.extract_pmid("see 456 here") == "456"
    assert llm.extract_pmid("none") == ""
    assert llm.extract_pmid("") == ""


def test_parse_result_line_semantics():
    # NO forces NA even when names are present
    assert llm.parse_result_line("PMID1\tNO\trotenone", "1") == ("1", "NO", "NA")
    # flag case-insensitive; pmid force-aligned to expected
    assert llm.parse_result_line("PMID999\tyes\tMetformin", "7") == ("7", "YES", "Metformin")
    # banned ion dropped, >3 names capped, >80 chars dropped
    long_name = "x" * 81
    got = llm.parse_result_line(
        f"PMID1\tprobablyYES\tNa; a1; {long_name}; b2; c3; d4", "1"
    )
    assert got == ("1", "probablyYES", "a1; b2; c3")
    # malformed lines
    assert llm.parse_result_line("only two\tfields", "1") is None
    assert llm.parse_result_line("PMID1\tmaybe\tx", "1") is None


def test_classify_documents_stub(spark):
    df = spark.createDataFrame(
        [
            ("1", "Rotenone inhibits complex I strongly"),
            ("2", "Metformin Reduced complex I activity"),
            ("3", "unrelated physiology paper"),
        ],
        "pmid string, title_abstract string",
    )
    out = llm.classify_documents(
        df, llm.stub_classifier, config=llm.ClassifyConfig(batch_size=2)
    )
    got = {r["pmid"]: (r["confidence"], r["compound"]) for r in out.collect()}
    assert got["1"] == ("YES", "Rotenone")
    assert got["2"][0] == "probablyYES"
    assert got["3"] == ("NO", "NA")


def test_classify_resumable_skips_done(spark):
    df = spark.createDataFrame(
        [("1", "a complex i inhibitor"), ("2", "another complex i inhibitor")],
        "pmid string, title_abstract string",
    )
    done = spark.createDataFrame([("1",)], "pmid string")
    out = llm.classify_documents_resumable(df, done, llm.stub_classifier)
    assert [r["pmid"] for r in out.collect()] == ["2"]


def test_classify_retry_then_success(spark):
    calls = {"n": 0}

    def flaky_factory():
        inner = llm.stub_classifier()

        def classify(batch):
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("transient")
            return inner(batch)

        return classify

    df = spark.createDataFrame([("1", "complex i inhibit")], "pmid string, title_abstract string")
    cfg = llm.ClassifyConfig(max_attempts=3, backoff_base_s=0, sleep=lambda s: None)
    out = llm.classify_documents(df, flaky_factory, config=cfg).collect()
    assert out[0]["confidence"] == "YES"


def test_classify_short_reply_degrades_to_no(spark):
    def half_factory():
        def classify(batch):
            return [f"PMID{batch[0][0]}\tYES\tX1"]  # one line for two items

        return classify

    df = spark.createDataFrame(
        [("1", "t1"), ("2", "t2")], "pmid string, title_abstract string"
    ).coalesce(1)
    cfg = llm.ClassifyConfig(batch_size=2)
    got = {
        r["pmid"]: r["confidence"]
        for r in llm.classify_documents(df, half_factory, config=cfg).collect()
    }
    assert got == {"1": "YES", "2": "NO"}


# ---------------------------------------------------------------------------
# REST cache
# ---------------------------------------------------------------------------


def test_resolve_with_cache(spark):
    df = spark.createDataFrame(
        [("Metformin",), ("Rotenone",), ("Unknown",)], "compound string"
    )
    cache = spark.createDataFrame([("Metformin", "FROM_CACHE")], "key string, value string")
    factory = rest.stub_fetcher_factory({"Rotenone": "FETCHED"})
    resolved, new_rows = rest.resolve_with_cache(
        df, cache, factory, key_col="compound", out_col="smiles",
        config=rest.FetchConfig(rate_limit_s=0),
    )
    got = {r["compound"]: r["smiles"] for r in resolved.collect()}
    assert got == {"Metformin": "FROM_CACHE", "Rotenone": "FETCHED", "Unknown": ""}
    assert [(r["key"], r["value"]) for r in new_rows.collect()] == [("Rotenone", "FETCHED")]


def test_resolve_with_cache_fetches_each_miss_once(spark, tmp_path):
    # Materializing BOTH outputs (resolved + new_cache_rows) must pay
    # the network exactly once per miss — the unpersisted-RDD regression
    # ran a separate job per output, double-fetching every miss.
    log = tmp_path / "fetch_calls.log"

    def factory():
        def fetch(key):
            with open(log, "a") as f:
                f.write(key + "\n")
            return "V_" + key

        return fetch

    df = spark.createDataFrame([("Miss1",), ("Miss2",)], "compound string")
    cache = spark.createDataFrame([], "key string, value string")
    resolved, new_rows = rest.resolve_with_cache(
        df, cache, factory, key_col="compound", out_col="smiles",
        config=rest.FetchConfig(rate_limit_s=0),
    )
    assert {r["smiles"] for r in resolved.collect()} == {"V_Miss1", "V_Miss2"}
    assert new_rows.count() == 2
    calls = log.read_text().splitlines()
    assert sorted(calls) == ["Miss1", "Miss2"]  # once per key, total


def test_resolve_with_cache_null_key_is_never_a_miss(spark, tmp_path):
    # A NULL key resolves to '' without reaching the fetcher and never
    # enters the new cache rows (FETCH_SCHEMA.key is non-nullable).
    log = tmp_path / "fetch_calls.log"

    def factory():
        def fetch(key):
            with open(log, "a") as f:
                f.write(key + "\n")
            return "V_" + key

        return fetch

    df = spark.createDataFrame([("Metformin",), (None,), ("x",)], "compound string")
    cache = spark.createDataFrame([("Metformin", "FROM_CACHE")], "key string, value string")
    resolved, new_rows = rest.resolve_with_cache(
        df, cache, factory, key_col="compound", out_col="smiles",
        config=rest.FetchConfig(rate_limit_s=0),
    )
    got = sorted((r["compound"] or "", r["smiles"]) for r in resolved.collect())
    assert got == [("", ""), ("Metformin", "FROM_CACHE"), ("x", "V_x")]
    assert [(r["key"], r["value"]) for r in new_rows.collect()] == [("x", "V_x")]
    assert log.read_text().splitlines() == ["x"]


def test_fetch_missing_values_and_case_fallback(spark):
    # (sleep calls happen inside executor workers — not observable
    # from the driver — so this pins resolution semantics only)
    cfg = rest.FetchConfig(rate_limit_s=0)
    keys = spark.createDataFrame([("a",), ("B",), ("c",)], "key string").coalesce(1)
    out = rest.fetch_missing(
        keys, rest.stub_fetcher_factory({"a": "1", "b": "2"}), config=cfg
    )
    vals = {r["key"]: r["value"] for r in out.collect()}
    assert vals == {"a": "1", "B": "2", "c": None}  # case-insensitive tier


# ---------------------------------------------------------------------------
# Chemistry plumbing (fake backend unless RDKit is present)
# ---------------------------------------------------------------------------

PANEL = {
    "rotenone": "CC(=C)C1CC2=C(O1)C=CC3=C2OC4COC5=CC(=C(C=C5C4C3=O)OC)OC",
    "piericidin": "CC1=CC(=C(C(=C1O)C)OC)CC=C(C)CCC=C(C)C",
    "metformin": "CN(C)C(=N)NC(=N)N",
}


def test_canonicalize_smiles(spark):
    df = spark.createDataFrame([("cn(c)x",), ("",), (None,)], "SMILES string")
    out = chem.canonicalize_smiles(df, backend_factory=chem.fake_backend).collect()
    assert out[0]["SMILES_canonical"] == "CN(C)X"
    assert out[1]["SMILES_canonical"] is None
    assert out[2]["SMILES_canonical"] is None


BIGUANIDE_REFS = {
    "biguanide": "NC(=N)NC(=N)N",
    "biguanide_motif": "NC(=N)N",
    "metformin": PANEL["metformin"],
}

PANEL_COLUMNS = [
    "MaxSim_all", "TopKMean_all", "BestRef_name", "confidence_similarity",
    "has_biguanide_core", "has_biguanide_motif",
    "sim_biguanide_tversky", "sim_biguanide_dice",
    "best_biguanide_like_tversky", "best_ref_name_tversky",
    "best_biguanide_like_dice", "best_ref_name_dice",
]


def test_score_panels_identity_is_top(spark):
    df = spark.createDataFrame(
        [(PANEL["metformin"],), ("XXXX-NO-MATCH-YYYY",), (None,)], "SMILES string"
    )
    scored = chem.score_panels(
        df, PANEL, BIGUANIDE_REFS, k=3, backend_factory=chem.fake_backend
    )
    assert scored.columns == ["SMILES", *PANEL_COLUMNS]
    out = scored.collect()
    exact = out[0]
    assert exact["MaxSim_all"] == 1.0
    assert exact["BestRef_name"] == "metformin"
    assert exact["confidence_similarity"] in {"high", "medium", "low", "very-low"}
    assert out[2]["MaxSim_all"] is None and out[2]["confidence_similarity"] is None


def test_score_panels_topk_uses_available_refs(spark):
    # with only 2 panel refs and k=3 the reference averages the top
    # min(k, n) scores (finalize_realease.py:171-175) — so TopKMean
    # is the 2-ref mean, and confidence is based on it
    df = spark.createDataFrame([(PANEL["metformin"],)], "SMILES string")
    small = {k: PANEL[k] for k in ["metformin", "rotenone"]}
    out = chem.score_panels(
        df, small, BIGUANIDE_REFS, k=3, backend_factory=chem.fake_backend
    ).collect()[0]
    be = chem.fake_backend()
    expected = round(
        (
            1.0
            + chem.tanimoto(
                be.fingerprint(PANEL["metformin"]), be.fingerprint(PANEL["rotenone"])
            )
        )
        / 2,
        3,
    )
    assert out["TopKMean_all"] == pytest.approx(expected)
    assert out["MaxSim_all"] == 1.0


def test_score_panels_biguanide_columns(spark):
    df = spark.createDataFrame(
        [("CCNC(=N)NC(=N)N",), ("ZZZZ",), (None,), ("",), ("not a smiles",)],
        "SMILES string",
    )
    out = chem.score_panels(
        df, PANEL, BIGUANIDE_REFS, backend_factory=chem.fake_backend
    ).collect()
    row = out[0]
    assert row["has_biguanide_core"] is True  # substring present
    assert row["has_biguanide_motif"] is True
    assert 0.0 <= row["sim_biguanide_tversky"] <= 1.0
    assert row["best_ref_name_tversky"] in BIGUANIDE_REFS
    # NULL, empty and unparseable rows: every value NULL, both flags False
    for null_row in out[2:]:
        assert null_row["has_biguanide_core"] is False
        assert null_row["has_biguanide_motif"] is False
        assert all(
            null_row[c] is None
            for c in PANEL_COLUMNS
            if c not in ("has_biguanide_core", "has_biguanide_motif")
        )


def test_score_panels_ties_pick_first_ref_by_name(spark):
    # every ref is the same structure, so each best-of is a tie over
    # all of them: the panel max and both biguanide bests must name
    # the first ref in sorted-name order, whatever the dict order
    same = "CN(C)C(=N)NC(=N)N"
    panel = {"zeta": same, "alpha": same, "mid": same}
    refs = {"zz": same, "biguanide": same, "aa": same}
    df = spark.createDataFrame([(same,), ("CCN(C)C(=N)N",)], "SMILES string")
    for be in (chem.fake_backend, chem.minichem_backend):
        for row in chem.score_panels(df, panel, refs, backend_factory=be).collect():
            assert row["BestRef_name"] == "alpha"
            assert row["best_ref_name_tversky"] == "aa"
            assert row["best_ref_name_dice"] == "aa"
            assert row["MaxSim_all"] == row["TopKMean_all"]


def test_chem_parity_harness_fake_path(spark):
    # tools/chem_parity.py must stay runnable here (its RDKit half
    # skips); the fake-backend half is a real single-process-vs-Spark
    # comparison and must be exact.
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parents[1] / "tools"))
    import chem_parity

    bad = chem_parity.compare(
        chem_parity.fake_rows(chem_parity.PANEL, chem_parity.CANDIDATES),
        chem_parity.spark_rows(spark, chem.fake_backend),
        "fake-backend plumbing",
    )
    assert bad == 0


def test_metric_properties():
    be = chem.fake_backend()
    # different sizes so Tversky's (na-i)/(nb-i) terms differ
    a, b = be.fingerprint("CCCCCCCO"), be.fingerprint("CCN")
    assert chem.tanimoto(a, a) == 1.0
    assert chem.dice_sim(a, a) == 1.0
    assert chem.tanimoto(a, b) == pytest.approx(chem.tanimoto(b, a))
    # Tversky asymmetric unless alpha == beta
    assert chem.tversky_sim(a, b, 0.7, 0.3) != pytest.approx(
        chem.tversky_sim(b, a, 0.7, 0.3)
    )


# ---------------------------------------------------------------------------
# Python boundary: Arrow only, no RDD
# ---------------------------------------------------------------------------

_PKG = Path(chem.__file__).resolve().parents[1]


def test_package_holds_no_rdd():
    """No `.rdd` / `.mapPartitions` attribute access anywhere in the
    package (docstrings that warn against them are not code)."""
    hits = [
        f"{f.relative_to(_PKG.parent)}:{node.lineno}"
        for f in sorted(_PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(f.read_text()))
        if isinstance(node, ast.Attribute) and node.attr in ("rdd", "mapPartitions")
    ]
    assert hits == []


def test_chem_rest_llm_cross_on_arrow():
    """chem, rest and llm import no pandas and use no pandas crossing:
    their Python stages are Arrow UDFs and mapInArrow."""
    pandas_api = {"pandas_udf", "mapInPandas", "applyInPandas"}
    hits = []
    for mod in (chem, rest, llm):
        path = Path(mod.__file__)
        for node in ast.walk(ast.parse(path.read_text())):
            names = []
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""] + [a.name for a in node.names]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            if any(n.split(".")[0] == "pandas" or n in pandas_api for n in names):
                hits.append(f"{path.name}:{node.lineno}")
    assert hits == []
