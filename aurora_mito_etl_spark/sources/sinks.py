"""Sinks + provenance (SURVEY §2.1 K1-K4).

The reference's release step writes TSV + Excel into a dated
directory and appends YAML-ish provenance blocks with sha256 per
artifact (reference scripts/finalize_realease.py:57-113,726-798).
Engine form: Parquet is the canonical staged format; TSV/Excel are
edge exports; provenance is structured JSON written per sink call.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet_stage(df: DataFrame, path: str) -> None:
    """K5 — stage materialization."""
    df.write.mode("overwrite").parquet(path)


def write_tsv(
    df: DataFrame,
    path: str,
    columns: list[str] | None = None,
    single_file: bool = False,
    null_value: str = "",
) -> None:
    """K1 — TSV sink with fixed column order and header.

    Reference: to_csv(sep="\\t") (finalize_realease.py:582,726).
    `single_file=True` mirrors the reference's one-file artifact —
    only valid for result-sized data (it coalesces to 1 task); leave
    False for big outputs so every executor writes its own part.
    """
    if columns:
        df = df.select(*columns)
    if single_file:
        df = df.coalesce(1)
    (
        df.write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .option("nullValue", null_value)
        .option("emptyValue", "")
        .csv(path)
    )


def release_dir(base: str, date: str | None = None) -> str:
    """K3 — dated release directory `base/date=YYYY-MM-DD`.

    The date is an injected parameter, never today() inside a query
    (determinism, SURVEY §7 / F13); default falls back to the driver
    clock at call time only.
    """
    d = date or _dt.date.today().isoformat()
    return os.path.join(base, f"date={d}")


def overwrite_release(df: DataFrame, base: str, name: str, date: str) -> str:
    """I3 — idempotent re-release: rewrite exactly this date's TSV
    artifact (reference deletes + rebuilds the dated dir,
    finalize_realease.py:102-113)."""
    path = os.path.join(release_dir(base, date), name)
    write_tsv(df, path, single_file=True)
    return path


def upsert_parquet_by_key(
    spark,
    path: str,
    new_rows: DataFrame,
    key: str,
) -> None:
    """Upsert into a parquet-backed lookup table: existing rows whose
    key collides with `new_rows` are replaced, everything else kept.

    Completes the S7 cache loop (operators/rest.py returns new cache
    rows; this lands them so the next run joins instead of fetching).
    Parquet has no MERGE — the table is read, anti-joined, unioned,
    and swapped in via directory renames. SINGLE-WRITER only (no
    locking; concurrent upserts into one cache need an external
    mutex or a real table format). Crash-safe in the sense that some
    complete copy of the data always exists on disk: the new table is
    fully written under a unique temp name before the old one is
    moved aside, and the old copy is deleted only after the swap.
    """
    import glob
    import shutil
    import uuid

    # crash recovery: if a previous run died between the two renames,
    # the live table is the newest .__old_ sibling — restore it, and
    # clear any orphaned temp dirs from failed writes.
    if not os.path.isdir(path):
        olds = sorted(glob.glob(path.rstrip("/") + ".__old_*"), key=os.path.getmtime)
        if olds:
            os.replace(olds[-1], path)
    for orphan in glob.glob(path.rstrip("/") + ".__tmp_*") + glob.glob(
        path.rstrip("/") + ".__old_*"
    ):
        shutil.rmtree(orphan, ignore_errors=True)

    if os.path.isdir(path) and any(
        not f.startswith(("_", ".")) for f in os.listdir(path)
    ):
        existing = spark.read.parquet(path)
        kept = existing.join(new_rows.select(key).distinct(), key, "left_anti")
        merged = kept.unionByName(new_rows)
    else:
        merged = new_rows
    token = uuid.uuid4().hex[:12]
    tmp = f"{path.rstrip('/')}.__tmp_{token}"
    merged.write.mode("overwrite").parquet(tmp)
    old = None
    if os.path.isdir(path):
        old = f"{path.rstrip('/')}.__old_{token}"
        os.replace(path, old)
    os.replace(tmp, path)
    if old:
        shutil.rmtree(old)


def sha256_of_dir(path: str) -> str:
    """F11 — stable content hash of a written artifact (sorted file
    walk, so it is independent of filesystem listing order)."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for fn in sorted(files):
            if fn.startswith(("_", ".")):
                continue  # _SUCCESS, checksums
            with open(os.path.join(root, fn), "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def write_provenance(
    provenance_path: str,
    artifact_path: str,
    step: str,
    sources: list[str],
    parameters: dict[str, Any] | None = None,
    date: str | None = None,
) -> dict[str, Any]:
    """K4 — append one structured lineage record (JSON lines).

    Reference appends YAML-ish blocks with file/sha256/date/step/
    sources/parameters (finalize_realease.py:64-97). JSONL keeps it
    append-only and machine-readable.
    """
    record = {
        "file": artifact_path,
        "sha256": sha256_of_dir(artifact_path)
        if os.path.isdir(artifact_path)
        else _sha256_file(artifact_path),
        "date": date or _dt.date.today().isoformat(),
        "step": step,
        "sources": sources,
        "parameters": parameters or {},
    }
    os.makedirs(os.path.dirname(provenance_path) or ".", exist_ok=True)
    with open(provenance_path, "a", encoding="utf-8") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")
    return record


def _sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def to_excel(df: DataFrame, path: str, link_col: str | None = None, url_template: str | None = None):
    """K2 — Excel export, driver-side, result-sized data ONLY.

    Reference adds a HYPERLINK formula column (finalize_realease.py:
    585-587). openpyxl may be absent in minimal images → ImportError
    surfaces to the caller; the engine's canonical artifact remains
    TSV/Parquet.
    """
    pdf = df.toPandas()
    if link_col and url_template:
        pdf[link_col] = [
            url_template.format(**row) for row in pdf.to_dict("records")
        ]
    pdf.to_excel(path, index=False)


def add_link_column(df: DataFrame, id_col: str, out_col: str = "link") -> DataFrame:
    """The reference's URL column as an engine-side expression
    (finalize_realease.py:586): one string concat per row."""
    return df.withColumn(
        out_col,
        F.concat(F.lit("https://pubmed.ncbi.nlm.nih.gov/?term="), F.col(id_col)),
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    shard_col: str = "source",
    provenance_path: str | None = None,
    sources: list[str] | None = None,
    date: str | None = None,
) -> dict[str, int]:
    """Training-corpus shard sink: parquet partitioned by `shard_col`
    (the layout `packing.pack_sequences` plans for — readers consume
    shard-local streams), a per-shard row-count manifest, and an
    optional K4 provenance record over the written artifact.

    Returns the {shard: rows} manifest. The manifest counts come from
    ONE aggregate over the same DataFrame written (not a re-read), so
    writer and manifest can never disagree on the input; the parquet
    write itself is the only full-data pass. Overwrites the target
    path idempotently (rerun-safe releases, K3 semantics).

    A NULL shard value keys the manifest as
    ``__HIVE_DEFAULT_PARTITION__`` — the same name the writer gives
    its on-disk directory, and distinct from a literal 'None' shard.
    The manifest is written through the Hadoop FileSystem API, so
    s3a:/hdfs: targets work; the optional provenance record hashes
    file contents and is local-filesystem only (a clear error, not a
    write-then-crash, on remote paths).
    """
    null_key = "__HIVE_DEFAULT_PARTITION__"

    def key(k) -> str:
        return null_key if k is None else str(k)

    raw = {
        r[shard_col]: r["n"]
        for r in df.groupBy(shard_col).agg(F.count("*").alias("n")).collect()
    }
    counts: dict[str, int] = {}
    for k, v in raw.items():
        if key(k) in counts:
            raise ValueError(
                f"shard values {k!r} and NULL both map to manifest key "
                f"{key(k)!r} — rename the literal shard"
            )
        counts[key(k)] = int(v)
    is_remote = "://" in path and not path.startswith("file:")
    if provenance_path is not None and is_remote:
        raise ValueError(
            "provenance hashing is local-filesystem only; write the "
            "release locally or pass provenance_path=None for "
            f"remote target {path!r}"
        )
    df.write.mode("overwrite").partitionBy(shard_col).parquet(path)
    payload = json.dumps(
        {"shards": counts, "total_rows": int(sum(counts.values()))},
        sort_keys=True,
    )
    spark = df.sparkSession
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(os.path.join(path, "_manifest.json"))
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()
    if provenance_path is not None:
        write_provenance(
            provenance_path,
            path,
            step="write_training_shards",
            sources=sources or [],
            parameters={"shard_col": shard_col, "n_shards": len(counts)},
            date=date,
        )
    return counts
