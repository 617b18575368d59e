"""The partition-offset scan behind assign_contiguous_ids, prefix_sum
and grouped_prefix_sum (operators/rownum.py): NaN/NULL fidelity, NaN
key semantics, Arrow batch seams, and the one-skeleton rule."""

from __future__ import annotations

import ast
import contextlib
import math
import random
from pathlib import Path

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aurora_mito_etl_spark.operators import rownum
from aurora_mito_etl_spark.operators.rownum import (
    assign_contiguous_ids,
    grouped_prefix_sum,
    prefix_sum,
)


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, str(value))
    try:
        yield
    finally:
        spark.conf.set(key, old)


# each scan over a frame (k, g, v, c, ...): ordered by v (within g for
# the grouped scan), weighted by c
_SCANS = {
    "assign_contiguous_ids": lambda df: assign_contiguous_ids(df, "v", "out"),
    "prefix_sum": lambda df: prefix_sum(df, "v", "c", "out"),
    "grouped_prefix_sum": lambda df: grouped_prefix_sum(df, "g", "v", "c", "out"),
}


def _canon(x):
    # NaN != NaN, so compare a tag that keeps NaN and NULL apart
    return "NaN" if isinstance(x, float) and math.isnan(x) else x


@pytest.mark.parametrize("scan", sorted(_SCANS))
def test_scans_pass_nan_and_null_through(spark, scan):
    """A pass-through double column comes back exactly: NaN stays NaN
    and NULL stays NULL (a pandas round-trip writes NaN as NULL)."""
    rows = [(1, 0, 1.0, 1, float("nan")), (2, 0, 2.0, 1, 0.5), (3, 0, 3.0, 1, None)]
    df = spark.createDataFrame(rows, "k long, g long, v double, c long, x double")
    got = {r["k"]: _canon(r["x"]) for r in _SCANS[scan](df).collect()}
    assert got == {1: "NaN", 2: 0.5, 3: None}


@pytest.mark.parametrize("parts", [1, 4])
@pytest.mark.parametrize("scan", sorted(_SCANS))
def test_scans_nan_key_is_one_value(spark, scan, parts):
    """NaN orders after every number as ONE value (Spark's sort): a
    unique NaN key is accepted, and two NaN keys are duplicates."""
    with _conf(spark, "spark.sql.shuffle.partitions", parts):
        ok = spark.createDataFrame(
            [(1, 0, float("nan"), 1), (2, 0, 1.0, 1), (3, 0, 2.0, 1)],
            "k long, g long, v double, c long",
        )
        got = {r["k"]: r["out"] for r in _SCANS[scan](ok).collect()}
        dup = spark.createDataFrame(
            [(1, 0, float("nan"), 1), (2, 0, float("nan"), 1), (3, 0, 1.0, 1)],
            "k long, g long, v double, c long",
        )
        with pytest.raises(Exception, match="duplicate"):
            _SCANS[scan](dup).collect()
    want = {1: 2, 2: 0, 3: 1} if scan == "assign_contiguous_ids" else {1: 3, 2: 1, 3: 2}
    assert got == want


def test_scans_chain_arrow_batch_seams(spark):
    """2-row Arrow batches: every carry and duplicate check runs across
    batch seams inside a partition; results equal the window forms."""
    rng = random.Random(37)
    vals = rng.sample(range(10_000), 120)
    rows = [(rng.choice([None, "a", "b"]), v, rng.randint(0, 5)) for v in vals]
    df = spark.createDataFrame(rows, "g string, v long, c long").repartition(3)
    with _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", 2):
        ids = {r["v"]: r["seq"] for r in assign_contiguous_ids(df, "v").collect()}
        cum = {r["v"]: r["cum"] for r in prefix_sum(df, "v", "c").collect()}
        gcum = {
            r["v"]: r["cum"] for r in grouped_prefix_sum(df, "g", "v", "c").collect()
        }
        dup = spark.createDataFrame(
            [("a", v, 1) for v in range(5)] + [("a", 4, 1)], "g string, v long, c long"
        ).coalesce(1)
        for scan in (
            lambda d: assign_contiguous_ids(d, ["g", "v"]),
            lambda d: grouped_prefix_sum(d, "g", "v", "c"),
        ):
            with pytest.raises(Exception, match="duplicate"):
                scan(dup).collect()
    frame = Window.unboundedPreceding, Window.currentRow
    w = Window.orderBy("v")
    wg = Window.partitionBy("g").orderBy("v").rowsBetween(*frame)
    want = df.select(
        "v",
        (F.row_number().over(w) - 1).alias("seq"),
        F.sum("c").over(w.rowsBetween(*frame)).alias("cum"),
        F.sum("c").over(wg).alias("gcum"),
    ).collect()
    assert ids == {r["v"]: r["seq"] for r in want}
    assert cum == {r["v"]: r["cum"] for r in want}
    assert gcum == {r["v"]: r["gcum"] for r in want}


def test_range_partitioning_written_only_in_skeleton():
    """The range → carry → offset skeleton is written once: no public
    scan calls repartitionByRange itself."""
    tree = ast.parse(Path(rownum.__file__).read_text())
    hits = []
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef) or fn.name == "_partition_offset_scan":
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.Attribute) and node.attr == "repartitionByRange":
                hits.append(f"{fn.name}:{node.lineno}")
    assert not hits, f"repartitionByRange outside the skeleton: {hits}"


def test_grouped_carry_keeps_null_and_nan_groups_apart(spark):
    """The carry sees summary rows as Arrow values, so a NULL group and
    a NaN group are different groups: with the NULL group in the
    partition before the NaN group, the NaN group must not inherit the
    NULL group's total (pandas held both as NaN and gave cum 5..8)."""
    rows = [(None, float(v), 1) for v in range(1, 5)]
    rows += [(float("nan"), float(v), 1) for v in range(1, 5)]
    df = spark.createDataFrame(rows, "g double, v double, c long")
    with _conf(spark, "spark.sql.shuffle.partitions", 2):
        got = grouped_prefix_sum(df, "g", "v", "c").collect()
    cums = {("NULL" if r["g"] is None else _canon(r["g"]), r["v"]): r["cum"] for r in got}
    assert cums == {
        (g, float(v)): v for g in ("NULL", "NaN") for v in range(1, 5)
    }


def test_carry_imports_no_pandas():
    """Every rownum stage, the carry included, works on Arrow."""
    src = Path(rownum.__file__).read_text()
    assert "import pandas" not in src and "mapInPandas(" not in src
