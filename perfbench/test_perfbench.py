"""Tests of the benchmark itself (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import catalog_gen  # noqa: E402
import pipeline_gen  # noqa: E402
import run  # noqa: E402
import verify  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]*$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _digests(root: str) -> dict[str, str]:
    out = {}
    for base, _dirs, files in os.walk(root):
        for fn in files:
            path = os.path.join(base, fn)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_pipeline_generator_is_deterministic(tmp_path):
    a = pipeline_gen.generate(str(tmp_path / "a"), 5)
    b = pipeline_gen.generate(str(tmp_path / "b"), 5)
    c = pipeline_gen.generate(str(tmp_path / "c"), 6)
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))
    assert a.to_json() == b.to_json()
    assert _digests(str(tmp_path / "a")) != _digests(str(tmp_path / "c"))


def test_catalog_generator_is_deterministic(tmp_path):
    catalog_gen.write_tables(str(tmp_path / "a"))
    catalog_gen.write_tables(str(tmp_path / "b"))
    da = _digests(str(tmp_path / "a"))
    assert da == _digests(str(tmp_path / "b"))
    assert {f"{t}.parquet" for t in catalog_gen.ROWS} < set(da)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.per_layer_units()
    for name, unit in {**e2e, **layers}.items():
        assert NAME.match(name) and len(name) <= 64, name
        assert UNIT.match(unit), unit
    assert tuple(w["name"] for w in bench["workloads"]) == run.WORKLOADS


def test_wrong_query_answer_fails_the_check():
    rows = [(1, "a", 2.5), (2, "b", None)]
    cols = ["k", "s", "v"]
    from tools.verify_local import canonical

    expected = {"columns": cols, "rows": canonical(rows, cols)}
    assert verify.check_query(expected, rows, cols) is None
    # column order does not matter, names do
    assert verify.check_query(expected, [(s, v, k) for k, s, v in rows], ["s", "v", "k"]) is None
    wrong = {"columns": cols, "rows": list(expected["rows"])}
    wrong["rows"][0] = wrong["rows"][0].replace("2.5", "2.6")
    assert verify.check_query(wrong, rows, cols) is not None
    assert verify.check_query({"columns": cols, "rows": expected["rows"][:1]}, rows, cols) is not None
    # a renamed column fails even where the sorted order, and so every
    # canonical row, stays the same
    assert verify.check_query({"columns": ["k", "s", "w"], "rows": expected["rows"]}, rows, cols) is not None


def _release_rows(truth: dict) -> list[dict]:
    rows = [
        {"compound": c, "pubmed_references": str(len(p)), "pubmed_ids": ";".join(p),
         "known_status": "new", "confidence_pubmed": verify.confidence_bin(len(p)),
         "SMILES": truth["compound_smiles"][c]}
        for c, p in truth["compound_pmids"].items()
    ]
    rows += [{"compound": k, "pubmed_references": "100", "pubmed_ids": "", "known_status": "known",
              "confidence_pubmed": "high", "SMILES": ""} for k in truth["known_release_names"]]
    return rows


def test_wrong_planted_truth_fails_the_release_check(tmp_path):
    truth = pipeline_gen.generate(str(tmp_path), 9).to_json()
    assert truth["compound_pmids"]
    rows = _release_rows(truth)
    assert verify.check_release(truth, rows, truth["processed_new_rows"]) == []

    name = next(iter(truth["compound_pmids"]))
    wrong = json.loads(json.dumps(truth))
    wrong["compound_pmids"][name] = wrong["compound_pmids"][name] + ["99999999"]
    assert verify.check_release(wrong, rows, truth["processed_new_rows"])
    assert verify.check_release(truth, rows, truth["processed_new_rows"] + 1)
    assert verify.check_release(truth, rows[1:], truth["processed_new_rows"])


def test_confidence_bins_are_right_closed():
    assert [verify.confidence_bin(n) for n in (1, 2, 3, 4, 5, 100)] == [
        "very-low", "low", "medium", "medium", "high", "high"]


def test_tail_has_ten_samples_beyond():
    value, pct = run.tail([float(i) for i in range(40)])
    assert value == 29.0 and sum(1 for i in range(40) if i > value) == 10
    assert pct == 75.0
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)


def test_tree_cpu_counts_children():
    import subprocess

    before = run.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"],
                   check=True)
    assert run.tree_cpu_s() - before >= 0.4

