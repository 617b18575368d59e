"""The Arrow vector path of the embedding operators: one decoder
(`similarity._decode_vectors`), one ordered fold against a constant
matrix (`_ordered_gram`), one row-wise fold (`_ordered_rowfold`) and
one tie-to-largest argmax (`_subspace_codes`), with every kernel
crossing into Python as an Arrow UDF, mapInArrow or applyInArrow.
Also the Arrow top-k prune's NaN order and pass-through."""

from __future__ import annotations

import ast
import math
import re
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aurora_mito_etl_spark.operators import quantize as qz
from aurora_mito_etl_spark.operators import similarity as sim

_OPS = Path(sim.__file__).resolve().parent
_VECTOR_MODULES = ("similarity", "rproj", "clustering", "quantize")


def test_vector_kernels_cross_on_arrow():
    """No pandas crossing is left in the vector modules: the column
    kernels are Arrow UDFs, the encoders mapInArrow and the group
    kernels applyInArrow."""
    pat = re.compile(r"\b(pandas_udf|mapInPandas|applyInPandas)\(")
    hits = [
        f"{m}.py:{i}"
        for m in _VECTOR_MODULES
        for i, line in enumerate((_OPS / f"{m}.py").read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert hits == []


def test_vector_decoding_and_fold_written_once():
    """Vectors reach numpy only through `_decode_vectors` (no kernel
    rebuilds a matrix from Python lists), and the only `+=`
    accumulation loops are the two ordered folds."""
    folds = {"_ordered_gram", "_ordered_rowfold"}
    hits = []
    for m in _VECTOR_MODULES:
        text = (_OPS / f"{m}.py").read_text()
        for bad in (".tolist()", ".to_pylist()", "np.array(list(", "np.stack("):
            assert bad not in text, (m, bad)
        for fn in ast.walk(ast.parse(text)):
            if not isinstance(fn, ast.FunctionDef) or fn.name in folds:
                continue
            for loop in ast.walk(fn):
                if isinstance(loop, ast.For) and any(
                    isinstance(n, ast.AugAssign) and isinstance(n.op, ast.Add)
                    for n in ast.walk(loop)
                ):
                    hits.append(f"{m}.{fn.name}:{loop.lineno}")
    assert hits == []


def test_decode_vectors_length_rules_and_null_elements():
    nan = float("nan")
    arr = pa.array(
        [[1.0, 2.0, 3.0], None, [3.0, None], [4.0, nan, 5.0, 6.0], [], [7.0, 8.0, 9.0]],
        type=pa.list_(pa.float32()),
    ).slice(0, 5)
    mat, ok, null_el = sim._decode_vectors(arr, 3)
    assert mat.shape == (5, 3) and mat.dtype == np.float64
    assert ok.tolist() == [True, False, False, False, False]
    assert null_el.tolist() == [False, False, True, False, False]
    mat, ok, null_el = sim._decode_vectors(arr, 3, prefix=True)
    assert ok.tolist() == [True, False, False, True, False]
    # prefix kept, NaN element a value, missing cells NaN
    assert mat[0].tolist() == [1.0, 2.0, 3.0]
    assert mat[3][0] == 4.0 and math.isnan(mat[3][1]) and mat[3][2] == 5.0
    assert mat[2][0] == 3.0 and np.isnan(mat[2][1:]).all()
    assert np.isnan(mat[1]).all() and np.isnan(mat[4]).all()
    # a sliced array decodes its own rows
    mat, ok, _ = sim._decode_vectors(arr.slice(3), 3, prefix=True)
    assert ok.tolist() == [True, False] and mat[0][2] == 5.0


_ODD_VECTORS = [
    (0, [0.3, -0.1, 0.7, 0.2, -0.5, 0.9, 0.1, -0.4]),
    (1, None),
    (2, [0.3, -0.1, 0.7]),  # short: subspace 0 partial, subspace 1 absent
    (3, [0.3, -0.1, 0.7, 0.2, None, 0.9, 0.1, -0.4]),  # NULL element
    (4, [0.5, 0.5, -0.2, 0.1, 0.3, 0.3, 0.2, 0.1, 9.0, 9.0]),  # longer
    (5, [0.3, -0.1, 0.7, 0.2]),  # exactly one subspace
]


def test_pq_encoders_on_null_short_and_null_element_vectors(spark):
    """Both Arrow encoders give pq_encode's codes on every row,
    including NULL, short and NULL-element vectors (which take the
    largest code in each subspace they poison)."""
    df = spark.createDataFrame(_ODD_VECTORS, "vec_id long, embedding array<double>")
    kw = dict(dim=8, m=2, n_centroids=4)
    cols = ["pq_0", "pq_1"]
    want = {r["vec_id"]: tuple(r[c] for c in cols) for r in qz.pq_encode(df, **kw).collect()}
    got = {r["vec_id"]: tuple(r[c] for c in cols) for r in qz.pq_encode_arrow(df, **kw).collect()}
    assert got == want
    assert want[1] == (3, 3) and want[2][1] == 3 and want[3][1] == 3
    cents = sim.ivf_centroids(8, 4)
    ivf = {r["vec_id"]: r for r in qz.ivfpq_encode_arrow(df, 8, cents, m=2, n_centroids=4).collect()}
    assert {i: tuple(r[c] for c in cols) for i, r in ivf.items()} == want
    assert ivf[1]["cell"] == ivf[2]["cell"] == ivf[3]["cell"] == 3


def test_encoders_pass_the_id_through_at_its_own_type(spark):
    df = spark.createDataFrame(
        [("a", [0.1, 0.2, 0.3, 0.4]), ("b", [0.4, 0.3, 0.2, 0.1])],
        "vec_id string, embedding array<float>",
    )
    pq = qz.pq_encode_arrow(df, dim=4, m=2, n_centroids=4)
    ivf = qz.ivfpq_encode_arrow(df, 4, sim.ivf_centroids(4, 2), m=2, n_centroids=4)
    for out in (pq, ivf):
        assert out.schema["vec_id"].dataType.simpleString() == "string"
        assert sorted(r["vec_id"] for r in out.collect()) == ["a", "b"]


def _canon(x):
    return "NaN" if isinstance(x, float) and math.isnan(x) else x


def test_topk_passes_columns_through_bit_unchanged(spark):
    """The prune takes rows with Table.take: a NaN pass-through value
    stays NaN and a NULL stays NULL."""
    scored = spark.createDataFrame(
        [(1, 1, 0.9, float("nan")), (1, 2, 0.5, 0.25), (1, 3, 0.1, None)],
        "g long, id long, score double, x double",
    )
    for out in (
        sim.topk(scored, "g", "id", 3),
        sim._prune_topk(scored, "g", "id", 3, "score", False),
    ):
        got = {r["id"]: _canon(r["x"]) for r in out.collect()}
        assert got == {1: "NaN", 2: 0.25, 3: None}


_NAN_ROWS = [
    (1, 1, float("nan")), (1, 2, 0.5), (1, 3, None), (1, 4, float("inf")),
    (1, 5, float("nan")), (1, 6, -0.5), (1, 7, float("-inf")), (1, 8, 0.5),
    (2, 9, None), (2, 10, float("nan")), (2, 11, 0.0), (None, 12, float("nan")),
    (None, 13, 1.0),
]


@pytest.mark.parametrize("parts", [1, 4])
@pytest.mark.parametrize("ascending", [False, True])
@pytest.mark.parametrize("k", [1, 3, 6])
def test_topk_nan_scores_equal_one_phase_window(spark, parts, ascending, k):
    """NaN scores rank as the window ranks them — above every number,
    NULL still last — so the two phases equal one row_number window
    over the whole table, at 1 and 4 partitions."""
    df = spark.createDataFrame(_NAN_ROWS, "g long, id long, score double")
    frame = df.coalesce(1) if parts == 1 else df.repartition(parts, "id")
    score = F.asc_nulls_last("score") if ascending else F.desc_nulls_last("score")
    w = Window.partitionBy("g").orderBy(score, F.asc_nulls_last("id"))
    want = {
        (r["g"], r["id"], _canon(r["score"]), r["rank"])
        for r in df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .collect()
    }
    got = {
        (r["g"], r["id"], _canon(r["score"]), r["rank"])
        for r in sim.topk(frame, "g", "id", k, ascending=ascending).collect()
    }
    assert got == want
