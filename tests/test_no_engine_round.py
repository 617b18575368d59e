"""Pin the fixed6 convention: no engine-specific 6-digit rounding
anywhere an oracle can see.

Spark's round() on doubles is HALF_UP (BigDecimal on the exact decimal
expansion); DuckDB's is half-even — a value landing on a 6-dp tie digit
hash-mismatches the driver gate (docs_source_report shipped driver-red
in round 5 through exactly this). The portable form is fixed6:
floor(x*1e6 + 0.5)/1e6 — the identical IEEE op sequence in both
engines (functions/numeric.py:77).
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "aurora_mito_etl_spark"


def test_no_spark_round_in_package():
    """F.round must not appear anywhere in the package — every rounded
    value either feeds an oracle (fixed6 required) or a twin test
    (fixed6 required for np/py parity)."""
    hits = []
    for f in PKG.rglob("*.py"):
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if "F.round(" in line:
                hits.append(f"{f.relative_to(PKG.parent)}:{i}: {line.strip()}")
    assert not hits, "engine-specific F.round found:\n" + "\n".join(hits)


def test_numeric_sql_spelled_only_in_numeric_module():
    """The fixed6 grid, the micros6 BIGINT grid and the decimal-sum
    precisions are spelled in functions/numeric.py alone; every other
    module (oracles included) calls fixed6_sql / micros6_sql /
    dec_sql / dec_wide_sql / dec_to_double_sql, so a convention change
    is one edit."""
    owner = PKG / "functions" / "numeric.py"
    spellings = ("* 1000000 + 0.5) / 1000000", "AS DECIMAL(18,6)", "AS DECIMAL(19,6)")
    # micros6 is often split across f-string pieces or SQL lines:
    # `... * 1000000 + 0.5)"` / `f" AS BIGINT)`
    micros6 = re.compile(r"\*\s*1000000\s*\+\s*0\.5\)[\s\"f]*AS\s+BIGINT")
    hits = []
    for f in PKG.rglob("*.py"):
        if f == owner:
            continue
        text = f.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            if any(s in line for s in spellings):
                hits.append(f"{f.relative_to(PKG.parent)}:{i}: {line.strip()}")
        for m in micros6.finditer(text):
            i = text.count("\n", 0, m.start()) + 1
            hits.append(f"{f.relative_to(PKG.parent)}:{i}: {m.group(0)!r}")
    assert not hits, "hand-spelled numeric SQL convention:\n" + "\n".join(hits)


def test_no_np_round_in_package():
    """np.round is HALF_EVEN — silently diverges from both Spark's
    HALF_UP and fixed6 on ties; production twins must use fixed6_np."""
    hits = []
    for f in PKG.rglob("*.py"):
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if re.search(r"\bnp\.round\(|\.round\(6\)", line):
                hits.append(f"{f.relative_to(PKG.parent)}:{i}: {line.strip()}")
    assert not hits, "half-even numpy rounding found:\n" + "\n".join(hits)


def test_no_sql_round_in_oracles():
    """Every oracle SQL string must use the floor twin, never round()."""
    from aurora_mito_etl_spark.plans.queries import ORACLES

    pat = re.compile(r"(?<![_A-Za-z])round\s*\(", re.IGNORECASE)
    hits = []
    for name, sql in ORACLES.items():
        if sql is None:
            continue
        for m in pat.finditer(sql):
            # show a window around the hit for debuggability
            lo = max(0, m.start() - 40)
            hits.append(f"{name}: ...{sql[lo:m.end() + 60]}...")
    assert not hits, "round() in oracle SQL:\n" + "\n".join(hits)


def test_fixed6_twins_agree():
    """fixed6_py / fixed6_np are the same function (incl. on decimal
    ties, where round()-family implementations disagree)."""
    import math

    import numpy as np

    from aurora_mito_etl_spark.functions.numeric import fixed6_np, fixed6_py

    vals = [0.1234565, 0.1234575, -0.1234565, 1.5e-7, -1.5e-7, 0.0, 123.9999995]
    for v in vals:
        expect = math.floor(v * 1_000_000 + 0.5) / 1_000_000
        assert fixed6_py(v) == expect
        assert fixed6_np(np.array([v]))[0] == expect


def test_fixed6_no_long_saturation_across_engines(spark):
    """Spark's floor(double) returns LONG and saturates at 2^63;
    before r8, fixed6 of |x| beyond ~9.2e12 silently pinned to
    9223372036854.775807/1e6 while DuckDB's double floor kept going
    (embeddings fuzz tier: a huge vector's squared norm). The fixed
    form branches on 2^53 — beyond it every double is integral and
    floor(y) == y. Pin Spark == DuckDB == py == np at magnitudes on
    both sides of every boundary."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    from aurora_mito_etl_spark.functions.numeric import (
        fixed6,
        fixed6_np,
        fixed6_py,
        fixed6_sql,
    )

    vals = [
        0.1234565,
        -7.25,
        9.2e12,          # just below the old saturation cliff
        9.3e12,          # just above it (old code: pinned)
        5.142177e13,     # the fuzz repro's magnitude
        9.007199254740992e15,  # 2^53 boundary region
        2.3e18,
        -5.1e14,
        -3.7e18,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got_spark = [
        r["y"] for r in df.select(fixed6(F.col("x")).alias("y")).collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {fixed6_sql('CAST(? AS DOUBLE)')}", [v]).fetchone()[0]
        for v in vals
    ]
    got_py = [fixed6_py(v) for v in vals]
    got_np = list(fixed6_np(np.array(vals)))
    assert got_spark == got_duck == got_py == got_np


def test_micros6_guard_matches_duckdb(spark):
    """micros6 (1e-6-grid BIGINT) agrees with its DuckDB twin in
    range, and out-of-range input RAISES on both engines (ADVICE r8:
    the unguarded floor().cast('long') silently pinned at ±2^63 in
    Spark while DuckDB's BIGINT cast raised)."""
    import duckdb
    import pytest
    from pyspark.sql import functions as F

    from aurora_mito_etl_spark.functions.numeric import micros6, micros6_sql

    in_range = [0.0, -7.25, 0.1234565, 9.2e12, -9.2e12, None]
    df = spark.createDataFrame([(v,) for v in in_range], "x double")
    got_spark = [
        r["y"] for r in df.select(micros6(F.col("x")).alias("y")).collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {micros6_sql('CAST(? AS DOUBLE)')}", [v]).fetchone()[0]
        for v in in_range
    ]
    assert got_spark == got_duck

    bad = spark.createDataFrame([(9.3e12,)], "x double")
    with pytest.raises(Exception, match="micros6 overflow"):
        bad.select(micros6(F.col("x")).alias("y")).collect()
    with pytest.raises(duckdb.Error):
        con.execute(f"SELECT {micros6_sql('CAST(9.3e12 AS DOUBLE)')}").fetchone()


def test_micros_sum_guard(spark):
    """micros_sum: exact decimal accumulation, long output, loud raise
    when the total leaves int64 range (a bare long SUM wraps silently
    in non-ANSI Spark while DuckDB's HUGEINT→BIGINT cast raises)."""
    import pytest
    from pyspark.sql import functions as F

    from aurora_mito_etl_spark.functions.numeric import micros_sum

    big = 4 * 10**18  # micros; two of these overflow int64
    ok = spark.createDataFrame([(1.5,), (2.25,), (None,)], "m double").select(
        F.floor(F.col("m") * 1000000 + 0.5).alias("m")
    )
    row = ok.agg(micros_sum(F.col("m"), "s")).collect()[0]
    assert row["s"] == 3750000

    over = spark.createDataFrame([(big,), (big,), (big,)], "m long")
    with pytest.raises(Exception, match="micros_sum overflow"):
        over.agg(micros_sum(F.col("m"), "s")).collect()
