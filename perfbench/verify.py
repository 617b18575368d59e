"""Correctness gate of the benchmark, run outside the timed region.

Query results are compared with their DuckDB oracles: the column
names as a set, and the rows through ``tools/verify_local``'s
canonical form (columns by name, rows sorted). Oracle answers are
cached on disk, keyed by the sha256 of the input files and of the
oracle SQL, so a run pays DuckDB only for inputs it has not seen.

The reference pipeline is checked against the truth its generator
planted: per-stage row counts, the release's per-compound
``pubmed_references``/``pubmed_ids``/bin/SMILES, the known-inhibitor
rows, provenance digests and the registry CHECKs of
``mesh_bioactive`` and ``pubmed_gpt``.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import os


def files_sha256(paths: list[str]) -> str:
    h = hashlib.sha256()
    for path in sorted(paths):
        h.update(os.path.basename(path).encode())
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


class OracleCache:
    """Oracle answers (column names, canonical rows) for one input set,
    computed once."""

    def __init__(self, data_dir: str, cache_dir: str):
        self.tables = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
        self.cache_dir = cache_dir
        self.input_sha = files_sha256(self.tables)
        self._con = None

    def _connect(self):
        """DuckDB with one view per table present in the input set."""
        import duckdb

        con = duckdb.connect()
        for path in self.tables:
            name = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        return con

    def expected(self, name: str, sql: str) -> dict:
        """``{"columns": [...], "rows": [canonical row, ...]}``."""
        key = hashlib.sha256(f"{self.input_sha}\n{name}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{name}-{key[:24]}.json")
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                return json.load(f)
        from tools.verify_local import canonical

        if self._con is None:
            self._con = self._connect()
        res = self._con.execute(sql)
        columns = [d[0] for d in res.description]
        answer = {"columns": columns, "rows": canonical(res.fetchall(), columns)}
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(answer, f)
        os.replace(tmp, path)
        return answer


def check_query(expected: dict, rows: list[tuple], columns: list[str]) -> str | None:
    """None when ``columns`` and ``rows`` match the oracle's answer
    (column names as a set, rows in canonical form), else a short
    reason."""
    from tools.verify_local import canonical

    if sorted(columns) != sorted(expected["columns"]):
        return f"columns {sorted(columns)} != expected {sorted(expected['columns'])}"
    got, want = canonical(rows, columns), expected["rows"]
    if len(got) != len(want):
        return f"rows {len(got)} != expected {len(want)}"
    if got != want:
        diff = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
        return f"value differs at canonical row {diff}: {got[diff]!r} != {want[diff]!r}"
    return None


def parquet_rows(path: str) -> int:
    """Row count of a staged parquet directory, from its footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(path, "*.parquet"))
    )


def _tsv_rows(path: str) -> list[dict]:
    rows: list[dict] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="", encoding="utf-8") as f:
            rows.extend(csv.DictReader(f, delimiter="\t"))
    return rows


def confidence_bin(refs: int) -> str:
    """The release's right-closed bins at 1/2/4."""
    return "very-low" if refs <= 1 else "low" if refs <= 2 else "medium" if refs <= 4 else "high"


def check_release(truth: dict, all_rows: list[dict], new_rows: int) -> list[str]:
    """Planted-truth checks on the released TSV rows; returns failures."""
    bad: list[str] = []
    if new_rows != truth["processed_new_rows"]:
        bad.append(f"new_inhibitors rows {new_rows} != {truth['processed_new_rows']}")
    by_name = {r["compound"]: r for r in all_rows}
    expected = len(truth["compound_pmids"]) + len(truth["known_release_names"])
    if len(all_rows) != expected or len(by_name) != len(all_rows):
        bad.append(f"all_inhibitors rows {len(all_rows)} != {expected}")
    for name, pmids in truth["compound_pmids"].items():
        row = by_name.get(name)
        want = {
            "pubmed_references": str(len(pmids)),
            "pubmed_ids": ";".join(pmids),
            "known_status": "new",
            "confidence_pubmed": confidence_bin(len(pmids)),
            "SMILES": truth["compound_smiles"][name],
        }
        if row is None:
            bad.append(f"release lacks {name}")
            continue
        for col, value in want.items():
            if row[col] != value:
                bad.append(f"{name}.{col} = {row[col]!r}, want {value!r}")
    for name in truth["known_release_names"]:
        row = by_name.get(name)
        if row is None or (row["pubmed_references"], row["known_status"]) != ("100", "known"):
            bad.append(f"known row {name} wrong: {row}")
    return bad


def check_pipeline(
    spark, truth: dict, out: dict[str, str], rows_out: dict[str, int]
) -> dict[str, list[str]]:
    """All pipeline checks, as failures per pipeline step; ``out`` maps
    artifact name to its path."""
    from aurora_mito_etl_spark.schema import validate
    from aurora_mito_etl_spark.sources.sinks import sha256_of_dir

    bad: dict[str, list[str]] = {}

    def fail(step: str, msg: str) -> None:
        bad.setdefault(step, []).append(msg)

    counts = {
        "mesh": truth["mesh_bioactive"],
        "pubtator": truth["pubtator_pmids"],
        "pubmed": truth["pubmed_rows"],
        "merge_filter": truth["merge_filter_rows"],
        "classify": truth["classified_rows"],
    }
    for stage, want in counts.items():
        if rows_out[stage] != want:
            fail(stage, f"rows {rows_out[stage]} != planted {want}")
    for step, table in (("mesh", "mesh_bioactive"), ("classify", "pubmed_gpt")):
        report = validate(spark.read.parquet(out[table]), table)
        if not report.ok:
            fail(step, f"{table} violations {report.violations} missing {report.missing_columns}")
    new_rows = len(_tsv_rows(out["release_new"]))
    for msg in check_release(truth, _tsv_rows(out["release_all"]), new_rows):
        fail("release", msg)
    with open(out["provenance"], encoding="utf-8") as f:
        records = [json.loads(line) for line in f]
    if len(records) != 2:
        fail("provenance", f"{len(records)} records, want 2")
    for rec in records:
        if rec["sha256"] != sha256_of_dir(rec["file"]):
            fail("provenance", f"digest of {rec['file']} does not match")
    return bad
