"""Edge-format readers (SURVEY §2.1 S4/S5).

The engine's staged format is Parquet; TSV appears only at the edges
(the reference's staging tables are header-optional TSV — reference
scripts/process_pubmed.sh:34, run_gpt_filter.py:205-215). Readers
take explicit schemas — inferSchema is banned in the engine (SURVEY
§1.3): at 100 TB an inference pass is a full extra scan, and drifting
inferred types break downstream plans silently.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from aurora_mito_etl_spark.schema.registry import schema_for


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence[Any]],
    schema: T.StructType | str,
) -> DataFrame:
    """A driver-side table (a few dozen names, SMILES, bounds) as a JVM
    ``LocalRelation``: the one way the package turns Python rows into
    a DataFrame.

    ``spark.createDataFrame(<list>, schema)`` builds a Python RDD in
    classic PySpark, so every scan of it runs ``defaultParallelism``
    Python-worker tasks at ~0.33 CPU-s each whatever they compute.
    Handed over as an Arrow table of the exact schema, the rows are
    inlined into the plan instead (below
    ``spark.sql.execution.arrow.localRelationThreshold``) and scans
    stay in the JVM. Same schema and rows as ``createDataFrame(rows,
    schema)``; no rows give an empty frame of ``schema``. TIMESTAMP
    columns are refused: Arrow reads a naive ``datetime`` as UTC where
    ``createDataFrame`` reads it as session-local time."""
    struct = schema if isinstance(schema, T.StructType) else T.DataType.fromDDL(schema)
    rows = [tuple(r) for r in rows]
    arrow_schema = to_arrow_schema(struct)
    columns = []
    for i, (f, af) in enumerate(zip(struct.fields, arrow_schema)):
        values = [r[i] for r in rows]
        if rows and "timestamp" in f.dataType.simpleString():
            raise TypeError(f"local_frame: column {f.name!r} holds timestamps")
        if not f.nullable and None in values:
            raise ValueError(f"local_frame: NULL in non-nullable column {f.name!r}")
        columns.append(pa.array(values, type=af.type))
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, struct)


def read_tsv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    null_value: str = "",
) -> DataFrame:
    """S5 — TSV with explicit schema. Gzipped files decompress
    transparently; one task per (splittable) file chunk."""
    return (
        spark.read.option("sep", "\t")
        .option("header", header)
        .option("nullValue", null_value)
        .option("emptyValue", "")
        .schema(schema)
        .csv(path)
    )


def read_staging_table(spark: SparkSession, path: str, table: str) -> DataFrame:
    """S5 over the schema registry: read one of the canonical staging
    tables (pubmed, mesh_bioactive, pubmed_gpt, …) by name with its
    registered StructType."""
    return read_tsv(spark, path, schema_for(table).struct)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSON-lines source with explicit schema — the lingua franca of
    LLM training corpora. Schema-first for the same reasons as TSV;
    corrupt records land in the permissive-mode NULL row rather than
    failing the scan."""
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .json(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table (SURVEY §4): both sides of a recurring
    equi-join written with the same (cols, num_buckets) join WITHOUT
    a shuffle — the bucketing IS the exchange, paid once at write
    time. The lever for repeated fact-fact joins at 100 TB.
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def na_to_null(df: DataFrame, columns: list[str], sentinel: str = "NA") -> DataFrame:
    """§1.2 — translate the reference's 'NA' sentinel to real NULLs at
    ingest (run_gpt_filter.py:184-188); sinks translate back."""
    from pyspark.sql import functions as F

    for c in columns:
        df = df.withColumn(c, F.when(F.col(c) == sentinel, None).otherwise(F.col(c)))
    return df


def align_to_schema(
    df: DataFrame, canonical: T.StructType, keep_extra: bool = False
) -> DataFrame:
    """Reconcile a drifted batch to the canonical schema: missing
    columns materialize as typed NULLs, present columns cast to the
    canonical type (covers upstream int→long / float→double widening),
    extra columns drop unless `keep_extra`. Canonical columns come
    first, in canonical order — safe to union across batches.

    Narrowing casts are refused loudly: a landing batch whose column
    arrived wider than the canonical type is a contract violation to
    surface, not silently truncate.
    """
    widenings = {
        ("int", "bigint"), ("smallint", "bigint"), ("tinyint", "bigint"),
        ("smallint", "int"), ("tinyint", "int"), ("tinyint", "smallint"),
        ("float", "double"), ("int", "double"), ("bigint", "double"),
        ("date", "timestamp"),
    }
    have = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    from pyspark.sql import functions as F

    for f in canonical.fields:
        if f.name not in have:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        elif have[f.name] == f.dataType:
            cols.append(F.col(f.name))
        else:
            src, dst = have[f.name].simpleString(), f.dataType.simpleString()
            if (src, dst) not in widenings and not (
                dst == "string" and not src.startswith(("struct", "array", "map"))
            ):
                raise TypeError(
                    f"column {f.name!r}: refusing non-widening cast {src} -> {dst}"
                )
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
    if keep_extra:
        canon_names = {f.name for f in canonical.fields}
        cols += [F.col(c) for c in df.columns if c not in canon_names]
    return df.select(*cols)


def read_evolving_parquet(
    spark: SparkSession,
    path: str,
    canonical: T.StructType,
    keep_extra: bool = False,
) -> DataFrame:
    """Landing-zone Parquet whose schema drifted across batches
    (columns added over time, ints widened). Spark's ``mergeSchema``
    refuses type conflicts (int32 vs int64 of the same column fails
    the whole scan), so this reads the footprint the way a manifest
    compactor would: group files by their footer schema (a
    metadata-only pass, no data pages), scan each group with its own
    explicit schema, :func:`align_to_schema` every group to the
    canonical contract, and union. Files that predate a column yield
    NULLs for it.

    The footer pass is one driver-side read per distinct batch
    directory — the landing edge, where drift is discovered, is
    thousands of files, not the curated lake's millions; compact into
    the canonical schema before the lake."""
    import pyarrow.parquet as _pq
    from pathlib import Path as _Path

    groups: dict[str, list[str]] = {}
    for f in sorted(_Path(path).rglob("*.parquet")):
        key = _pq.read_schema(str(f)).to_string()
        groups.setdefault(key, []).append(str(f))
    if not groups:
        return local_frame(spark, [], canonical)
    out = None
    for files in groups.values():
        batch = align_to_schema(
            spark.read.parquet(*files), canonical, keep_extra=keep_extra
        )
        out = batch if out is None else out.unionByName(
            batch, allowMissingColumns=keep_extra
        )
    return out
