"""Distributed exact quantiles (operators/quantiles.py) and the
two-phase prefix sum behind them (rownum.prefix_sum)."""

from __future__ import annotations

import contextlib
import random

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aurora_mito_etl_spark.operators import quantiles as qt
from aurora_mito_etl_spark.operators.rownum import grouped_prefix_sum, prefix_sum


@contextlib.contextmanager
def _shuffle_partitions(spark, n):
    """Run the block with `spark.sql.shuffle.partitions` = n — the
    range-partition count of every partition-offset scan — restoring
    the previous value after."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_prefix_sum_matches_window_form(spark):
    rng = random.Random(11)
    rows = [(v, rng.randint(1, 9)) for v in rng.sample(range(10_000), 500)]
    df = spark.createDataFrame(rows, "v long, c long").repartition(8)
    got = {
        r["v"]: r["cum"] for r in prefix_sum(df, "v", "c", "cum").collect()
    }
    w = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r["v"]: r["cum"]
        for r in df.select("v", F.sum("c").over(w).alias("cum")).collect()
    }
    assert got == want
    # partition invariance: 1 partition == 8 partitions
    got1 = {
        r["v"]: r["cum"]
        for r in prefix_sum(df.repartition(1), "v", "c").collect()
    }
    assert got1 == want


def test_prefix_sum_guards(spark):
    dup = spark.createDataFrame([(1, 1), (1, 2)], "v long, c long")
    with pytest.raises(Exception, match="duplicate"):
        prefix_sum(dup, "v", "c").collect()
    # r14: guards moved into the in-plan carry task (no driver
    # collect), so they surface at the action as PythonException
    # carrying the original ValueError message.
    nullkey = spark.createDataFrame([(None, 1), (2, 2)], "v long, c long")
    with pytest.raises(Exception, match="NULL"):
        prefix_sum(nullkey, "v", "c").collect()
    nullw = spark.createDataFrame([(1, None), (2, 2)], "v long, c long")
    with pytest.raises(Exception, match="NULL"):
        prefix_sum(nullw, "v", "c").collect()


def test_prefix_sum_running_overflow_guard(spark):
    """r11 ADVICE #1: a mixed-sign stream whose GRAND total fits int64
    but whose running prefix leaves it must be rejected loudly, not
    wrapped inside the int64 cumsum."""
    big = 2**62
    rows = [(1, big), (2, big), (3, -big), (4, -big)]
    df = spark.createDataFrame(rows, "v long, c long")
    with _shuffle_partitions(spark, 1), pytest.raises(Exception, match="running prefix"):
        prefix_sum(df, "v", "c").collect()
    # same magnitudes interleaved so every prefix stays bounded: fine
    ok = spark.createDataFrame(
        [(1, big), (2, -big), (3, big), (4, -big)], "v long, c long"
    )
    with _shuffle_partitions(spark, 1):
        got = {r["v"]: r["cum"] for r in prefix_sum(ok, "v", "c").collect()}
    assert got == {1: big, 2: 0, 3: big, 4: 0}


def _duckdb_with(values, col="x"):
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({col} DOUBLE)")
    if values:
        con.executemany(f"INSERT INTO t VALUES (?)", [(v,) for v in values])
    return con


def test_quantiles_match_duckdb_quantile_disc(spark):
    """Semantic pin: our integer-threshold construction equals DuckDB's
    quantile_disc rank convention — including the n where float p*n
    sits one ulp above an integer (0.01*100)."""
    rng = random.Random(5)
    for n in (100, 101, 300, 997):
        vals = [round(rng.uniform(0, 5000), 2) for _ in range(n)]
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        got = {
            r["quantile"]: r["value"]
            for r in qt.exact_quantiles_grid(df, "x").collect()
        }
        con = _duckdb_with(vals)
        # quantile_disc on the GRIDDED value, descaled by the same
        # IEEE divide the operator uses
        ref = con.execute(
            """
            SELECT quantile_disc(v, 0.01), quantile_disc(v, 0.25),
                   quantile_disc(v, 0.5), quantile_disc(v, 0.75),
                   quantile_disc(v, 0.9), quantile_disc(v, 0.99)
            FROM (SELECT CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS v FROM t)
            """
        ).fetchone()
        want = dict(
            zip(
                ("p01", "p25", "p50", "p75", "p90", "p99"),
                (v / 1_000_000.0 for v in ref),
            )
        )
        assert got == want, f"n={n}"


def test_quantiles_oracle_parity(spark):
    rng = random.Random(7)
    vals = [round(rng.uniform(-100, 100), 2) for _ in range(400)] + [None] * 9
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {
        r["quantile"]: r["value"]
        for r in qt.exact_quantiles_grid(df, "x").collect()
    }
    # NULL rows go into the DuckDB table too (r11 ADVICE #2): the
    # oracle's own IS NOT NULL arm must drop them, matching the
    # Spark-side input exactly.
    con = _duckdb_with(vals)
    ora = dict(
        con.execute(qt.exact_quantiles_grid_oracle("t", "x")).fetchall()
    )
    assert got == ora
    assert len(got) == 6


def test_quantiles_empty_and_all_null(spark):
    empty = spark.createDataFrame([], "x double")
    assert qt.exact_quantiles_grid(empty, "x").count() == 0
    allnull = spark.createDataFrame([(None,), (None,)], "x double")
    assert qt.exact_quantiles_grid(allnull, "x").count() == 0
    con = _duckdb_with([])
    assert con.execute(qt.exact_quantiles_grid_oracle("t", "x")).fetchall() == []


def test_quantiles_single_row(spark):
    df = spark.createDataFrame([(42.5,)], "x double")
    got = qt.exact_quantiles_grid(df, "x").collect()
    assert len(got) == 6
    assert all(r["value"] == 42.5 for r in got)


def test_quantiles_plan_has_no_window(spark):
    df = spark.createDataFrame([(float(i),) for i in range(50)], "x double")
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        qt.exact_quantiles_grid(df, "x").explain("formatted")
    assert "Window" not in buf.getvalue()


def test_quantiles_bad_spec_raises(spark):
    df = spark.createDataFrame([(1.0,)], "x double")
    with pytest.raises(ValueError, match="quantile"):
        qt.exact_quantiles_grid(df, "x", quantiles=(("bad", 3, 2),))


def test_grouped_quantiles_match_per_group_disc(spark):
    rng = random.Random(13)
    rows = [
        (rng.choice(["a", "b", None]), round(rng.uniform(0, 1000), 2))
        for _ in range(300)
    ] + [("solo", 5.0)]
    df = spark.createDataFrame(rows, "k string, x double").repartition(7)
    got = {
        (r["k"], r["quantile"]): r["value"]
        for r in qt.grouped_exact_quantiles(df, "k", "x").collect()
    }
    # per-group reference via the global operator on each slice —
    # including the NULL group (the null-safe join must emit it)
    for key in ("a", "b", None, "solo"):
        sl = df.filter(
            F.col("k").isNull() if key is None else (F.col("k") == key)
        )
        ref = {
            r["quantile"]: r["value"]
            for r in qt.exact_quantiles_grid(sl, "x").collect()
        }
        for qname, v in ref.items():
            assert got[(key, qname)] == v, (key, qname)
    assert got[("solo", "p50")] == 5.0


def test_grouped_quantiles_oracle_parity(spark):
    rng = random.Random(17)
    rows = [
        (rng.choice(["r", "s"]), round(rng.uniform(-50, 50), 2))
        for _ in range(200)
    ] + [("r", None), (None, 1.25), (None, 7.75)]
    df = spark.createDataFrame(rows, "k string, x double")
    got = {
        (r["k"], r["quantile"]): r["value"]
        for r in qt.grouped_exact_quantiles(df, "k", "x").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    ora = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            qt.grouped_exact_quantiles_oracle("t", "k", "x")
        ).fetchall()
    }
    assert got == ora
    assert (None, "p50") in got  # NULL group emitted on both engines


def test_grouped_prefix_sum_matches_window(spark):
    """grouped_prefix_sum == the partitioned-window form, with a
    mega-group spanning partitions, a NULL group, and seam chaining."""
    rng = random.Random(23)
    vals = rng.sample(range(100_000), 1200)
    rows = (
        [("mega", v, rng.randint(1, 4)) for v in vals[:1000]]
        + [(None, v, rng.randint(1, 4)) for v in vals[1000:1080]]
        + [("b", v, rng.randint(1, 4)) for v in vals[1080:]]
    )
    df = spark.createDataFrame(rows, "g string, v long, c long").repartition(6)
    with _shuffle_partitions(spark, 8):
        got = {
            (r["g"], r["v"]): r["cum"]
            for r in grouped_prefix_sum(df, "g", "v", "c").collect()
        }
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("v").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["g"], r["v"]): r["cum"]
        for r in df.select("g", "v", F.sum("c").over(w).alias("cum")).collect()
    }
    assert got == want
    # partition invariance: 1 partition == 8 partitions
    with _shuffle_partitions(spark, 1):
        got1 = {
            (r["g"], r["v"]): r["cum"]
            for r in grouped_prefix_sum(df, "g", "v", "c").collect()
        }
    assert got1 == want


def test_grouped_prefix_sum_multi_weight_mixed_carry(spark):
    """r13 ADVICE #5: the multi-weight path's cross-partition carry
    with MIXED zero/nonzero per-weight carries — one weight all-zero
    in the leading partitions (carry[i] == 0, its `if carry[i]` branch
    must NOT fire) while the other weight carries a nonzero offset
    across the same partition/batch seam. A spanning mega-group forces
    the seam; per-weight window forms are the truth."""
    n = 400
    rows = [
        # w1 is zero for the first half of the spanning group: every
        # partition seam inside that half has carry == (0, nonzero)
        ("mega", v, 0 if v < n // 2 else 3, 2)
        for v in range(n)
    ] + [("tail", n + 1, 5, 7)]
    df = spark.createDataFrame(rows, "g string, v long, a long, b long")
    with _shuffle_partitions(spark, 8):
        got = {
            (r["g"], r["v"]): (r["ca"], r["cb"])
            for r in grouped_prefix_sum(
                df.repartition(5), "g", "v", ["a", "b"], ["ca", "cb"]
            ).collect()
        }
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("v").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["g"], r["v"]): (r["ca"], r["cb"])
        for r in df.select(
            "g", "v",
            F.sum("a").over(w).alias("ca"),
            F.sum("b").over(w).alias("cb"),
        ).collect()
    }
    assert got == want


def test_grouped_prefix_sum_guards(spark):
    dup = spark.createDataFrame([("a", 1, 1), ("a", 1, 2)], "g string, v long, c long")
    with pytest.raises(Exception, match="duplicate"):
        grouped_prefix_sum(dup, "g", "v", "c").collect()
    # r14: guards moved into the in-plan carry task (no driver
    # collect) — PythonException at the action, original message kept.
    nullv = spark.createDataFrame([("a", None, 1)], "g string, v long, c long")
    with pytest.raises(Exception, match="NULL"):
        grouped_prefix_sum(nullv, "g", "v", "c").collect()
    nullw = spark.createDataFrame([("a", 1, None)], "g string, v long, c long")
    with pytest.raises(Exception, match="NULL"):
        grouped_prefix_sum(nullw, "g", "v", "c").collect()
    neg = spark.createDataFrame([("a", 1, -1)], "g string, v long, c long")
    with pytest.raises(Exception, match="negative"):
        grouped_prefix_sum(neg, "g", "v", "c").collect()
    # duplicate (g, v) in DIFFERENT groups is fine
    ok = spark.createDataFrame(
        [("a", 1, 2), ("b", 1, 3)], "g string, v long, c long"
    )
    got = {
        (r["g"], r["v"]): r["cum"]
        for r in grouped_prefix_sum(ok, "g", "v", "c").collect()
    }
    assert got == {("a", 1): 2, ("b", 1): 3}


def test_grouped_prefix_sum_spanning_group_overflow_guard(spark):
    """r12 ADVICE #1: a group whose running total leaves int64 must
    raise loudly under EVERY partition arrangement — including the one
    where the spanning group terminates inside a multi-group partition
    (off + first_t is the quantity the old guard never checked; the
    worker-side numpy add would wrap silently). Which guard fires
    depends on where range partitioning cuts, so pin the invariant:
    some loud 'overflow' error, never a wrapped result."""
    big = 2**61
    rows = [("g", i, big) for i in range(1, 5)] + [("h", 5, 7)]
    df = spark.createDataFrame(rows, "g string, v long, c long")
    for nparts in (1, 2, 3):
        with _shuffle_partitions(spark, nparts), pytest.raises(
            Exception, match="overflow"
        ):
            grouped_prefix_sum(df, "g", "v", "c").collect()
    # same group totals kept inside int64: fine, and exact
    ok_rows = [("g", i, big) for i in range(1, 4)] + [("h", 5, 7)]
    ok = spark.createDataFrame(ok_rows, "g string, v long, c long")
    with _shuffle_partitions(spark, 2):
        got = {
            (r["g"], r["v"]): r["cum"]
            for r in grouped_prefix_sum(ok, "g", "v", "c").collect()
        }
    assert got == {
        ("g", 1): big, ("g", 2): 2 * big, ("g", 3): 3 * big, ("h", 5): 7,
    }


def test_grouped_quantiles_dist_parity(spark):
    """The dist variant == the window sibling == the shared DuckDB
    oracle, under the adversarial shape it exists for: one mega-group
    with near-unique continuous values, plus NULL group / NULL values
    / a singleton group."""
    rng = random.Random(29)
    rows = (
        [("mega", round(rng.uniform(0, 1000), 6)) for _ in range(4000)]
        + [("small", float(rng.randint(1, 40))) for _ in range(60)]
        + [(None, round(rng.uniform(0, 10), 6)) for _ in range(50)]
        + [("allnull", None), ("allnull", None), ("solo", 9.5)]
    )
    df = spark.createDataFrame(rows, "k string, x double")
    a = sorted(
        map(tuple, qt.grouped_exact_quantiles(df, "k", "x").collect()), key=str
    )
    with _shuffle_partitions(spark, 8):
        b = sorted(
            map(tuple, qt.grouped_exact_quantiles_dist(df, "k", "x").collect()),
            key=str,
        )
    assert a == b
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    ora = sorted(
        map(
            tuple,
            con.execute(
                qt.grouped_exact_quantiles_oracle("t", "k", "x")
            ).fetchall(),
        ),
        key=str,
    )
    assert b == ora
    ks = {r[0] for r in b}
    assert ks == {"mega", "small", None, "solo"}  # allnull emits nothing


def test_grouped_quantiles_dist_partition_invariance(spark):
    rng = random.Random(31)
    rows = [(rng.choice(["a", "b"]), float(rng.randint(0, 99))) for _ in range(150)]
    df = spark.createDataFrame(rows, "k string, x double")
    with _shuffle_partitions(spark, 1):
        c1 = sorted(
            map(tuple, qt.grouped_exact_quantiles_dist(df, "k", "x").collect()),
            key=str,
        )
    with _shuffle_partitions(spark, 9):
        c9 = sorted(
            map(tuple, qt.grouped_exact_quantiles_dist(df, "k", "x").collect()),
            key=str,
        )
    assert c1 == c9


def test_grouped_quantiles_partition_invariance(spark):
    rng = random.Random(19)
    rows = [(rng.choice(["a", "b"]), float(rng.randint(0, 99))) for _ in range(150)]
    d1 = spark.createDataFrame(rows, "k string, x double").repartition(1)
    d9 = spark.createDataFrame(rows, "k string, x double").repartition(9)
    c1 = sorted(map(tuple, qt.grouped_exact_quantiles(d1, "k", "x").collect()))
    c9 = sorted(map(tuple, qt.grouped_exact_quantiles(d9, "k", "x").collect()))
    assert c1 == c9


def test_sig_floor_twins_and_monotone():
    """The three sig-floor twins (python / Spark expr via the sketch /
    DuckDB expr) agree; here: python properties + DuckDB parity.
    Monotone, floor (w <= v), bounded relative error."""
    import duckdb as _dk

    rng = random.Random(37)
    vals = [0, 1, -1, 9, 10, -10, 999, 1000, -999, -1000, 999999,
            -999999, 999000, -999000, 10**18, -(10**18)]
    vals += [rng.randint(-(10**12), 10**12) for _ in range(800)]
    for sig in (1, 3, 6):
        ws = [qt.sig_floor_py(v, sig) for v in vals]
        for v, w in zip(vals, ws):
            assert w <= v
            assert v == 0 or abs(v - w) < 10 ** (1 - sig) * abs(v) + 1
        sv = sorted(vals)
        sw = [qt.sig_floor_py(v, sig) for v in sv]
        assert all(a <= b for a, b in zip(sw, sw[1:])), f"not monotone sig={sig}"
        con = _dk.connect()
        con.execute("CREATE TABLE t(v BIGINT)")
        con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
        rows = con.execute(
            f"SELECT v, {qt._sig_floor_duckdb('v', sig)} FROM t"
        ).fetchall()
        assert all(w == qt.sig_floor_py(v, sig) for v, w in rows)
    # 19-digit-negative overflow raises on BOTH twins (never wraps)
    ov = -(2**63) + 3
    with pytest.raises(ValueError, match="overflow"):
        qt.sig_floor_py(ov, 1)
    con = _dk.connect()
    with pytest.raises(Exception):
        con.execute(
            f"SELECT {qt._sig_floor_duckdb('v', 1)} "
            f"FROM (SELECT CAST({ov} AS BIGINT) AS v)"
        ).fetchone()


def test_quantile_sketch_rank_exact_value_coarsened(spark):
    """The sketch is rank-EXACT: its answer equals sig_floor(exact
    grouped quantile) for every (group, quantile) — monotone maps
    commute with discrete quantile selection."""
    rng = random.Random(41)
    rows = (
        [("a", round(rng.uniform(0, 90000), 4)) for _ in range(800)]
        + [("b", round(rng.uniform(-500, 500), 4)) for _ in range(300)]
        + [(None, float(rng.randint(1, 9))) for _ in range(40)]
    )
    df = spark.createDataFrame(rows, "k string, x double")
    exact = {
        (r["k"], r["quantile"]): r["value"]
        for r in qt.grouped_exact_quantiles(df, "k", "x").collect()
    }
    sk = {
        (r["k"], r["quantile"]): r["value"]
        for r in qt.grouped_quantile_sketch(df, "k", "x", sig_digits=3).collect()
    }
    assert set(sk) == set(exact)
    for key, v in exact.items():
        want = qt.sig_floor_py(round(v * 1_000_000), 3) / 1_000_000.0
        assert sk[key] == want, (key, v, sk[key], want)


def test_quantile_sketch_oracle_parity_and_merge(spark):
    rng = random.Random(43)
    rows = [
        (rng.choice(["r", "s", None]), round(rng.uniform(-2000, 2000), 3))
        for _ in range(600)
    ] + [("r", None)]
    df = spark.createDataFrame(rows, "k string, x double")
    got = sorted(
        map(tuple, qt.grouped_quantile_sketch(df, "k", "x").collect()), key=str
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    ora = sorted(
        map(
            tuple,
            con.execute(
                qt.grouped_quantile_sketch_oracle("t", "k", "x")
            ).fetchall(),
        ),
        key=str,
    )
    assert got == ora
    # MERGEABLE: sketch(A ∪ B) == sketch over the UNION of the two
    # halves' bucket-count grids (addition is the merge)
    half = len(rows) // 2
    dfa = spark.createDataFrame(rows[:half], "k string, x double")
    dfb = spark.createDataFrame(rows[half:], "k string, x double")
    merged = sorted(
        map(
            tuple,
            qt.grouped_quantile_sketch(dfa.unionByName(dfb), "k", "x").collect(),
        ),
        key=str,
    )
    assert merged == got


def test_quantile_sketch_bounded_domain(spark):
    """The bucket domain stays bounded regardless of value count —
    the 100 TB communication claim."""
    rng = random.Random(47)
    df = spark.createDataFrame(
        [("g", round(rng.uniform(0, 1e9), 6)) for _ in range(20_000)],
        "k string, x double",
    )
    from aurora_mito_etl_spark.functions.numeric import micros6

    buckets = (
        df.select(micros6(F.col("x")).alias("v0"))
        .select(F.expr(qt._sig_floor_spark("v0", 3)).alias("v"))
        .distinct()
        .count()
    )
    # 900 buckets/decade x ~16 decades in range — far under the row count
    assert buckets < 15_000
