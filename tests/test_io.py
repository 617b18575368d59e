from __future__ import annotations

import ast
from datetime import datetime
from pathlib import Path

import pytest
from pyspark.sql import types as T

from aurora_mito_etl_spark.sources import io as eio

PKG = Path(__file__).resolve().parent.parent / "aurora_mito_etl_spark"


def test_read_staging_table_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("123", "YES", "metformin"), ("456", "NO", None)],
        "pmid string, confidence string, compound string",
    )
    p = str(tmp_path / "pubmed_gpt_tsv")
    (
        df.coalesce(1)
        .write.option("sep", "\t")
        .option("header", True)
        .csv(p)
    )
    back = eio.read_staging_table(spark, p, "pubmed_gpt")
    assert back.schema["pmid"].dataType.simpleString() == "string"
    got = sorted((r["pmid"], r["confidence"], r["compound"]) for r in back.collect())
    assert got == [("123", "YES", "metformin"), ("456", "NO", None)]


def test_na_to_null(spark):
    df = spark.createDataFrame([("NA",), ("x",)], "compound string")
    out = [r["compound"] for r in eio.na_to_null(df, ["compound"]).collect()]
    assert out == [None, "x"]


# ---------------------------------------------------------------------------
# Schema evolution (align_to_schema / read_evolving_parquet)
# ---------------------------------------------------------------------------

def _canonical():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
    ])


def test_read_evolving_parquet(spark, tmp_path):
    from aurora_mito_etl_spark.sources.io import read_evolving_parquet

    # v1 batch: no lang column, n_tokens written as int
    spark.createDataFrame(
        [(1, "old doc", 3)], "doc_id long, text string, n_tokens int"
    ).write.parquet(str(tmp_path / "landing" / "batch=1"))
    # v2 batch: adds lang and an extra column the contract doesn't know
    spark.createDataFrame(
        [(2, "new doc", "en", 4, "junk")],
        "doc_id long, text string, lang string, n_tokens long, extra string",
    ).write.parquet(str(tmp_path / "landing" / "batch=2"))

    got = read_evolving_parquet(
        spark, str(tmp_path / "landing"), _canonical()
    )
    assert got.columns == ["doc_id", "text", "lang", "n_tokens"]
    assert dict(got.dtypes)["n_tokens"] == "bigint"
    rows = {r["doc_id"]: r for r in got.collect()}
    assert rows[1]["lang"] is None and rows[1]["n_tokens"] == 3
    assert rows[2]["lang"] == "en" and rows[2]["n_tokens"] == 4


def test_align_refuses_narrowing(spark):
    import pytest
    from pyspark.sql import types as T

    from aurora_mito_etl_spark.sources.io import align_to_schema

    df = spark.createDataFrame([(1,)], "doc_id long")
    narrow = T.StructType([T.StructField("doc_id", T.IntegerType())])
    with pytest.raises(TypeError, match="non-widening"):
        align_to_schema(df, narrow)


def test_align_keep_extra(spark):
    from aurora_mito_etl_spark.sources.io import align_to_schema

    df = spark.createDataFrame(
        [(1, "t", "x")], "doc_id long, text string, extra string"
    )
    got = align_to_schema(df, _canonical(), keep_extra=True)
    assert got.columns == ["doc_id", "text", "lang", "n_tokens", "extra"]


# ---------------------------------------------------------------------------
# local_frame: driver-side rows as a JVM LocalRelation
# ---------------------------------------------------------------------------


def _optimized_plan(df, capsys) -> str:
    capsys.readouterr()
    df.explain(mode="extended")
    out = capsys.readouterr().out
    return out.split("== Optimized Logical Plan ==")[1].split("== Physical Plan ==")[0]


@pytest.mark.parametrize(
    "rows, schema",
    [
        (
            [(1, 2, True, [1.0, None], "a"), (None, None, None, None, None)],
            "a long, b int, c boolean, d array<double>, e string",
        ),
        ([], "a long, b string"),
        (
            [],
            T.StructType(
                [
                    T.StructField("k", T.StringType(), False),
                    T.StructField("v", T.ArrayType(T.DoubleType(), False), True),
                ]
            ),
        ),
    ],
    ids=["nulls_mixed_types", "empty_ddl", "empty_struct"],
)
def test_local_frame_matches_create_dataframe(spark, capsys, rows, schema):
    want = spark.createDataFrame(rows, schema)
    got = eio.local_frame(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    leaf = _optimized_plan(got, capsys).strip().splitlines()[-1]
    assert leaf.startswith("LocalRelation"), leaf


def test_local_frame_refuses_rows_it_would_alter(spark):
    schema = T.StructType([T.StructField("k", T.StringType(), False)])
    with pytest.raises(ValueError, match="non-nullable"):
        eio.local_frame(spark, [("a",), (None,)], schema)
    # Arrow would read a naive datetime as UTC, not session-local time
    with pytest.raises(TypeError, match="timestamps"):
        eio.local_frame(spark, [(datetime(2020, 1, 1),)], "ts timestamp")
    assert eio.local_frame(spark, [], "ts timestamp").count() == 0


def _create_dataframe_calls(pkg: Path) -> list[str]:
    """Every `<x>.createDataFrame(...)` call in the package source,
    except the one inside sources/io.py's local_frame."""
    hits = []
    for f in sorted(pkg.rglob("*.py")):
        tree = ast.parse(f.read_text())
        allowed: set[int] = set()
        if f == pkg / "sources" / "io.py":
            for node in ast.walk(tree):
                if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                hits.append(f"{f.relative_to(pkg.parent)}:{node.lineno}")
    return hits


def test_driver_side_frames_go_through_local_frame():
    """`createDataFrame(<python list>)` builds a Python RDD: each scan
    runs defaultParallelism Python-worker tasks (~0.33 CPU-s apiece of
    fixed cost). Package code builds driver-side tables with
    sources.io.local_frame, which gives a LocalRelation instead."""
    hits = _create_dataframe_calls(PKG)
    assert not hits, "createDataFrame outside local_frame:\n" + "\n".join(hits)
