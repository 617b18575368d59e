"""Streaming PSI drift monitor: cross-batch order-free accumulation,
exact batch/stream parity, and bit-parity with the batch oracle query
(events_psi_drift) on the same reference and rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from aurora_mito_etl_spark.streaming import drift
from aurora_mito_etl_spark.streaming import incremental as inc

SCHEMA = "event_type string, value double"
SF = "/root/testdata/sf0.001"


def _drain(spark, landing, ckpt, sink, reference):
    stream = drift.psi_drift_stream(
        inc.stream_landing_dir(spark, landing, SCHEMA), reference
    )
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_stream_accumulates_and_matches_batch_twin(spark, tmp_path):
    ref = {"click": ([float(i) for i in range(1, 10)], [5] * 10)}
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    emissions: list[tuple] = []

    def write(rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(landing)

    def sink(bdf, _bid):
        emissions.extend(
            (r["event_type"], r["n_ref"], r["n_cur"], r["psi"])
            for r in bdf.collect()
        )

    # two micro-batches; 'view' has no reference and must be ignored;
    # NULL values must be dropped
    write([("click", 0.5), ("click", 3.7), ("view", 1.0), ("click", None)])
    _drain(spark, landing, ckpt, sink, ref)
    write([("click", 9.9), ("click", 3.7)])
    _drain(spark, landing, ckpt, sink, ref)

    assert all(e[0] == "click" for e in emissions)
    final = emissions[-1]
    assert final[1] == 50 and final[2] == 4  # n_ref, n_cur accumulated

    # order-free parity: one batch pass over ALL rows == the stream's
    # final emission, exactly
    all_rows = spark.createDataFrame(
        [("click", 0.5), ("click", 3.7), ("view", 1.0), ("click", None),
         ("click", 9.9), ("click", 3.7)],
        SCHEMA,
    )
    twin = drift.psi_drift_batch(all_rows, ref).collect()
    assert len(twin) == 1
    t = twin[0]
    assert (t["event_type"], t["n_ref"], t["n_cur"], t["psi"]) == final


def test_bin_boundary_equality_matches_batch_semantics():
    # the batch oracle's bin is 1 + #{b < v}: a value EQUAL to a
    # boundary stays in the lower bin
    import numpy as np

    bounds = [1.0, 2.0, 3.0]
    vals = np.array([0.5, 1.0, 1.5, 3.0, 9.0])
    assert list(drift._bin_indices(bounds, vals)) == [1, 1, 2, 3, 4]


def test_stream_psi_bit_matches_batch_oracle_query(spark):
    """Reference = the batch query's before-half; rows = the
    after-half. The stream twin's psi must equal events_psi_drift's
    psi column bit-for-bit (same smoothing, fixed6 grid summation)."""
    from aurora_mito_etl_spark.plans.queries import QUERIES, load_table

    batch = {
        r["event_type"]: (r["n_before"], r["n_after"], r["psi"])
        for r in QUERIES["events_psi_drift"](spark, SF).collect()
    }

    ev = load_table(spark, SF, "events")
    ts_type = {f.name: f.dataType.simpleString() for f in ev.schema.fields}["ts"]
    ts_us = (
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
        if ts_type == "timestamp_ntz"
        else F.unix_micros(F.col("ts"))
    )
    base = ev.where(F.col("value").isNotNull() & F.col("ts").isNotNull()).select(
        "event_type", ts_us.alias("ts_us"), "value"
    )
    from aurora_mito_etl_spark.functions.numeric import fixed6

    med = base.groupBy("event_type").agg(
        fixed6(F.expr("percentile(ts_us, 0.5D)")).alias("med_ts")
    )
    halved = base.join(F.broadcast(med), "event_type")
    before = halved.where(F.col("ts_us") <= F.col("med_ts"))
    after = halved.where(F.col("ts_us") > F.col("med_ts"))

    reference = drift.reference_from_frame(before)
    got = {
        r["event_type"]: (r["n_ref"], r["n_cur"], r["psi"])
        for r in drift.psi_drift_batch(after, reference).collect()
    }
    assert set(got) == set(batch)
    for etype, (nb, na, psi) in batch.items():
        assert got[etype] == (nb, na, psi), (etype, got[etype], (nb, na, psi))


def test_reference_from_empty_snapshot(spark):
    # ADVICE r8: an empty snapshot frame must yield an empty reference
    # dict, not a createDataFrame([]) schema-inference error.
    from aurora_mito_etl_spark.streaming import drift

    empty = spark.createDataFrame([], "event_type string, value double")
    assert drift.reference_from_frame(empty) == {}
    # and an all-NULL snapshot reduces to the same empty reference
    nulls = spark.createDataFrame(
        [(None, None), ("click", None)], "event_type string, value double"
    )
    assert drift.reference_from_frame(nulls) == {}


def test_reference_bounds_schema_is_the_inferred_one(spark):
    # The bounds table used to be built by schema inference from its
    # (event_type, b1..b9) rows; the explicit schema must be the same.
    from aurora_mito_etl_spark.sources.io import local_frame
    from aurora_mito_etl_spark.streaming import drift

    rows = [("click", *[0.5 * i for i in range(1, 10)])]
    inferred = spark.createDataFrame(rows, ["event_type"] + [f"b{i}" for i in range(1, 10)])
    assert local_frame(spark, rows, drift.BOUNDS_SCHEMA).schema == inferred.schema
