"""File-level copy-on-write MERGE (upsert/delete) for Parquet tables.

The incremental-release primitive the reference lacks entirely (its
releases rewrite everything — `scripts/finalize_realease.py` emits the
full table every run): apply a batch of keyed changes to a large
Parquet table by rewriting ONLY the files that contain affected keys.
This is the copy-on-write MERGE every lakehouse format implements;
rebuilt here on plain Parquet so the engine's staged tables get cheap
upserts without a table-format dependency.

Scale shape:
- Finding affected files is a semi-join of the target against the
  update keys, projected to `input_file_name()` and distinct'd — the
  shuffle carries (file, key-hit) pairs, the result is bounded by the
  file count, and Catalyst prunes the scan to the key column.
- Only affected files re-read for the rewrite (anti-join out the old
  versions of updated keys, union the updates); untouched files are
  never opened again. A well-clustered table (z-order/bucket by key —
  `sources/layout.py`, `io.write_bucketed_table`) keeps the affected
  set small; a random layout degrades gracefully to more rewrites,
  never to wrong results.

Durability caveat (documented, deliberate): the swap
(write-new → delete-old) is not transactional — a crash mid-swap can
leave both or neither file visible. Production tables that need
concurrent readers belong in a transactional format (Delta/Iceberg);
this operator is for the engine's single-writer staging tables, and
its rewrite ordering (new files land before old files are removed,
with distinct names) at least never loses rows.
"""

from __future__ import annotations

import uuid
from pathlib import Path
from urllib.parse import unquote, urlparse


def _local_path(uri: str) -> Path:
    """input_file_name() yields a URI string — percent-decoded path
    extraction, not a bare removeprefix('file:') (a target directory
    with spaces or other URL-encoded characters would otherwise make
    the post-write unlink miss its file, leaving duplicate rows for
    updated keys on the next read — ADVICE r5)."""
    parsed = urlparse(uri)
    if parsed.scheme in ("", "file"):
        return Path(unquote(parsed.path or uri))
    # non-local filesystems never reach the Path-based unlink here
    return Path(unquote(parsed.path))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aurora_mito_etl_spark.sources.io import local_frame


def _land(table: str, df: DataFrame, prefix: str) -> list[str]:
    """Write `df` into a temp directory under `table`, then rename
    each part into `table` as ``<prefix>-<uuid>-<part>`` (distinct
    names, so nothing existing is overwritten). Returns the new file
    names. Callers remove or unpublish replaced files only AFTER this
    returns — a crash can duplicate rows briefly, never lose them."""
    tmp = Path(table) / f"_{prefix}_tmp_{uuid.uuid4().hex}"
    df.write.parquet(str(tmp))
    names = []
    for part in sorted(tmp.glob("*.parquet")):
        name = f"{prefix}-{uuid.uuid4().hex}-{part.name}"
        part.rename(Path(table) / name)
        names.append(name)
    for leftover in tmp.iterdir():
        leftover.unlink()
    tmp.rmdir()
    return names


def _rewrite_affected(
    spark: SparkSession,
    table: str,
    sources: list[str],
    updates: DataFrame,
    key_col: str,
    deletes: DataFrame | None,
) -> tuple[list[str], list[str], dict[str, int]]:
    """The copy-on-write step both MERGE modes share: find the files
    of `sources` (the live table) holding a changed key, land their
    surviving rows plus `updates` as new files, and count the change.
    Returns (affected file paths, new file names, stats); the caller
    retires the affected files."""
    dup = updates.groupBy(key_col).count().where(F.col("count") > 1).limit(1).count()
    if dup:
        raise ValueError(f"updates carry duplicate {key_col!r} keys — ambiguous MERGE")
    change_keys = updates.select(key_col)
    if deletes is not None:
        change_keys = change_keys.unionByName(deletes.select(key_col)).distinct()

    target = spark.read.parquet(*sources)
    # decode URIs up front: both the re-read and the caller's unlink
    # need the real filesystem path, not the percent-encoded URI
    affected = sorted(
        {
            str(_local_path(r["_f"]))
            for r in target.withColumn("_f", F.input_file_name())
            .join(change_keys, key_col, "semi")
            .select("_f")
            .distinct()
            .collect()
        }
    )

    # Rows surviving from affected files: drop every row whose key is
    # being upserted or deleted, then add the new versions.
    if affected:
        survivors = spark.read.parquet(*affected).join(
            change_keys, key_col, "anti"
        )
    else:
        survivors = local_frame(spark, [], target.schema)
    rewritten = survivors.unionByName(updates.select(*target.columns))

    matched = updates.join(target.select(key_col), key_col, "semi").count()
    stats = {
        "files_total": len(target.inputFiles()),
        "files_rewritten": len(affected),
        "rows_updated": matched,
        "rows_inserted": updates.count() - matched,
        "rows_deleted": (
            deletes.select(key_col).distinct().join(
                target.select(key_col), key_col, "semi"
            ).count()
            if deletes is not None
            else 0
        ),
    }
    return affected, _land(table, rewritten, "merge"), stats


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key_col: str,
    deletes: DataFrame | None = None,
) -> dict[str, int]:
    """Upsert `updates` (and optionally delete `deletes`' keys) into
    the Parquet table at `target_path` by key, rewriting only affected
    files. One row per key in `updates` (enforced — ambiguous MERGE
    sources are an error, as in ANSI MERGE); update rows must carry
    the target schema. Returns counts for the caller's manifest:
    files_total / files_rewritten / rows_updated / rows_inserted /
    rows_deleted.
    """
    if snapshot_versions(target_path):
        # plain-mode MERGE deletes replaced files that older manifests
        # still reference — silently corrupting prior snapshots. A
        # snapshot-controlled table must go through
        # merge_upsert_snapshot (ADVICE r5).
        raise ValueError(
            f"{target_path} is snapshot-controlled (_manifest present) — "
            "use merge_upsert_snapshot"
        )
    affected, _, stats = _rewrite_affected(
        spark, target_path, [target_path], updates, key_col, deletes
    )
    for f in affected:
        p = Path(f)
        if p.exists():
            p.unlink()
    return stats


def compact_small_files(
    spark: SparkSession,
    target_path: str,
    small_threshold_bytes: int = 32 * 1024 * 1024,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Bin-pack small Parquet files into target-sized ones, leaving
    already-large files untouched — the compaction half of table
    maintenance (copy-on-write MERGE above creates exactly the small
    files this cleans up; streaming ingest creates them constantly).

    Files under `small_threshold_bytes` re-read and rewrite coalesced
    to ceil(total_small / target_file_bytes) outputs; every file at or
    above the threshold keeps its identity (and its page cache / task
    locality). Same swap ordering as merge_upsert: new files land
    before old ones are removed. Returns counts for the caller's
    manifest.
    """
    if snapshot_versions(target_path):
        # compaction deletes the small files it packed — files older
        # manifests may still reference (ADVICE r5). Snapshot tables
        # need a snapshot-publishing compaction; refuse rather than
        # corrupt.
        raise ValueError(
            f"{target_path} is snapshot-controlled (_manifest present) — "
            "plain compact_small_files would corrupt prior snapshots"
        )
    files = [
        (p, p.stat().st_size) for p in sorted(Path(target_path).glob("*.parquet"))
    ]
    small = [(p, s) for p, s in files if s < small_threshold_bytes]
    stats = {
        "files_total": len(files),
        "files_compacted": len(small),
        "files_written": 0,
    }
    if len(small) < 2:
        return stats  # nothing to gain from rewriting one file
    total = sum(s for _, s in small)
    n_out = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(*[str(p) for p, _ in small])
    written = _land(target_path, df.coalesce(n_out), "compact")
    for p, _ in small:
        if p.exists():
            p.unlink()
    stats["files_written"] = len(written)
    return stats


# ---------------------------------------------------------------------------
# Manifest snapshots: versioned reads over the same file-level ops.
#
# A JSON manifest per version lists the table's live files; writers
# publish a new manifest (temp-file + atomic rename) instead of
# deleting replaced files, readers pin a version, and vacuum()
# reclaims files no kept version references. This is the essential
# core of every table format's commit protocol, small enough to own:
# readers of version N are never disturbed by a concurrent merge or
# compaction, and a crashed writer leaves at worst an unreferenced
# temp manifest — the plain-mode caveat above disappears. (What this
# deliberately does NOT provide: multi-writer conflict detection —
# single-writer staging tables only.)
# ---------------------------------------------------------------------------

_MANIFEST_DIR = "_manifest"


def _manifest_path(table: str) -> Path:
    return Path(table) / _MANIFEST_DIR


def snapshot_versions(table: str) -> list[int]:
    d = _manifest_path(table)
    if not d.is_dir():
        return []
    return sorted(
        int(p.stem.removeprefix("v")) for p in d.glob("v*.json")
    )


def _publish(table: str, version: int, files: list[str]) -> None:
    import json

    d = _manifest_path(table)
    d.mkdir(exist_ok=True)
    tmp = d / f".tmp-{uuid.uuid4().hex}"
    tmp.write_text(json.dumps({"version": version, "files": sorted(files)}))
    tmp.rename(d / f"v{version:05d}.json")  # atomic on one filesystem


def _read_manifest(table: str, version: int) -> list[str]:
    import json

    return json.loads(
        (_manifest_path(table) / f"v{version:05d}.json").read_text()
    )["files"]


def snapshot_init(table: str) -> int:
    """Bring an existing plain Parquet directory under snapshot
    control: version 1 references every current data file."""
    if snapshot_versions(table):
        raise ValueError(f"{table} already has snapshots")
    files = [p.name for p in Path(table).glob("*.parquet")]
    _publish(table, 1, files)
    return 1


def read_snapshot(
    spark: SparkSession, table: str, version: int | None = None
) -> DataFrame:
    """The table at `version` (default: latest). Stable against any
    later merge/compact/vacuum that keeps the version."""
    versions = snapshot_versions(table)
    if not versions:
        raise ValueError(f"{table} has no snapshots — snapshot_init first")
    v = versions[-1] if version is None else version
    files = _read_manifest(table, v)
    if not files:
        raise ValueError(f"version {v} is empty")
    return spark.read.parquet(*[str(Path(table) / f) for f in files])


def merge_upsert_snapshot(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key_col: str,
    deletes: DataFrame | None = None,
) -> tuple[int, dict[str, int]]:
    """:func:`merge_upsert` against the LATEST snapshot, publishing
    the result as a new version instead of deleting replaced files —
    concurrent readers of any prior version are untouched. Returns
    (new_version, stats)."""
    versions = snapshot_versions(table)
    if not versions:
        raise ValueError(f"{table} has no snapshots — snapshot_init first")
    current = _read_manifest(table, versions[-1])
    affected, new_names, stats = _rewrite_affected(
        spark, table, [str(Path(table) / f) for f in current], updates, key_col,
        deletes,
    )
    replaced = {Path(f).name for f in affected}

    new_version = versions[-1] + 1
    keep = [f for f in current if f not in replaced]
    _publish(table, new_version, keep + new_names)
    return new_version, stats


def release_delta(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Rows of `table` that live in files ADDED between two snapshot
    versions — the physical delta of a release, read without opening
    any file the old version already had.

    The manifest diff is exact at file grain: copy-on-write MERGE
    rewrites whole files, so the delta contains every inserted and
    updated row (plus rewritten survivors that shared a file with
    one — callers that need only NEW keys anti-join those away, see
    `operators/dedup.cross_release_near_dup`). An empty diff returns
    an empty frame with the table's schema."""
    versions = snapshot_versions(table)
    if not versions:
        raise ValueError(f"{table} has no snapshots — snapshot_init first")
    to_v = versions[-1] if to_version is None else to_version
    old = set(_read_manifest(table, from_version))
    added = [f for f in _read_manifest(table, to_v) if f not in old]
    if not added:
        return local_frame(spark, [], read_snapshot(spark, table, to_v).schema)
    return spark.read.parquet(*[str(Path(table) / f) for f in added])


def vacuum(table: str, keep_last: int = 2) -> dict[str, int]:
    """Reclaim space: drop all but the last `keep_last` manifests and
    delete every data file no kept manifest references. Run this only
    when no reader still pins an older version."""
    versions = snapshot_versions(table)
    if not versions:
        raise ValueError(f"{table} has no snapshots")
    if keep_last < 1:
        # keep_last=0 would keep every file live (versions[-0:] is the
        # whole list) yet delete ALL manifests — data files stranded
        # behind an unreadable table (ADVICE r5).
        raise ValueError("vacuum requires keep_last >= 1")
    kept_versions = versions[-keep_last:]
    live: set[str] = set()
    for v in kept_versions:
        live.update(_read_manifest(table, v))
    removed_files = 0
    for p in Path(table).glob("*.parquet"):
        if p.name not in live:
            p.unlink()
            removed_files += 1
    removed_manifests = 0
    for v in versions[:-keep_last]:
        (_manifest_path(table) / f"v{v:05d}.json").unlink()
        removed_manifests += 1
    return {
        "files_removed": removed_files,
        "manifests_removed": removed_manifests,
        "versions_kept": len(kept_versions),
    }
