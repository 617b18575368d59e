"""The release-building analytical query (SURVEY §3.3; reference
scripts/finalize_realease.py:470-728).

Stages, each a DataFrame function:
candidate cleaning (P9→D6→P16→P17→P8) → per-compound stats (A1/O3)
→ union knowns (U1) → confidence bins (A5) → SMILES resolution
(J5/J6/S7) → rank → chemistry panels (D3/D4, one Arrow kernel) →
18-column ordered release (DATA_DICTIONARY.md:31-49).

Everything up to SMILES resolution is pure Catalyst; the reference's
eager pandas frame becomes one lazy plan with a single wide shuffle
(the stats groupBy).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aurora_mito_etl_spark.operators import chem
from aurora_mito_etl_spark.operators import rest as rest_op
from aurora_mito_etl_spark.operators import text as tx
from aurora_mito_etl_spark.operators.aggregates import bin_right_closed
from aurora_mito_etl_spark.sources.io import local_frame


def normalize_name_key(name: str) -> str:
    """Driver-side twin of D1 for curating the (tiny) reference list:
    lowercase, canonicalize unicode dashes, strip spaces/dashes,
    de-pluralize unless us/is/os/gas (finalize_realease.py:517-525)."""
    key = name.strip().lower()
    for dash in ("–", "—", "−"):
        key = key.replace(dash, "-")
    key = "".join(ch for ch in key if not ch.isspace() and ch != "-")
    if (
        len(key) > 4
        and key.endswith("s")
        and not key.endswith(("us", "is", "os", "gas"))
    ):
        key = key[:-1]
    return key


def curate_known_inhibitors(raw_names: list[str]) -> list[str]:
    """A3 keep-first + U2 curation over the 53-name reference list
    (finalize_realease.py:527-540). Dimension-sized → driver-side on
    purpose; the distributed twin is
    aggregates.keep_first_per_key for real tables."""
    first_seen: dict[str, str] = {}
    for name in raw_names:
        if not name.strip():
            continue
        first_seen.setdefault(normalize_name_key(name), name.strip())
    names = set(first_seen.values())
    names.difference_update({"Roterone", "Piericidin", "Bongkrekic", "IACS-10759"})
    names.update({"Piericidin A", "Bongkrekic acid"})
    return sorted(names)


@dataclass(frozen=True)
class ReferenceData:
    """The data/reference/* dimension inputs (SURVEY §1.1)."""

    known_inhibitors: list[str]
    blacklist_raw: list[str]
    typo_pairs: list[tuple[str, str]]
    smiles_db: dict[str, str] = field(default_factory=dict)
    panel_smiles: dict[str, str] = field(default_factory=dict)
    biguanide_refs: dict[str, str] = field(default_factory=dict)

    @property
    def exact_blacklist(self) -> list[str]:
        """Non-wildcard entries ∪ lowercased known names
        (finalize_realease.py:481-485)."""
        plain = {
            e.strip().lower()
            for e in self.blacklist_raw
            if e.strip() and not e.strip().lower().startswith("*")
        }
        plain |= {e.strip().lower() for e in self.known_inhibitors if e.strip()}
        return sorted(plain)

    @property
    def wildcard_blacklist(self) -> list[str]:
        """'*'-prefixed entries matched as substrings
        (finalize_realease.py:483, black2 at :487-493)."""
        return sorted(
            {
                e.strip().lower().replace("*", "")
                for e in self.blacklist_raw
                if e.strip() and e.strip().lower().startswith("*")
            }
        )


def clean_candidates(gpt: DataFrame, refs: ReferenceData) -> DataFrame:
    """P9 sentinel filters → D6 explode → P16 paren truncate → P17
    typos → P8 blacklists (finalize_realease.py:554-571). One fused
    projection+filter chain, no shuffle."""
    kept = gpt.filter(
        F.col("confidence").isNotNull()
        & (F.lower(F.col("confidence")) != "no")
        & F.col("compound").isNotNull()
        & (F.lower(F.col("compound")) != "na")
    )
    exploded = tx.explode_delimited(kept, "compound", "name", sep=";").select(
        "pmid", "confidence", "name"
    )
    cleaned = (
        exploded.withColumn("name", tx.truncate_at_unmatched_paren(F.col("name")))
        .filter(tx.non_empty(F.trim(F.col("name"))))
        .withColumn(
            "name", tx.apply_ordered_substitutions(F.col("name"), refs.typo_pairs)
        )
        .withColumn("name", F.trim(F.col("name")))
        .filter(tx.non_empty(F.col("name")))
        .filter(F.lower(F.col("name")) != "na")
        .filter(F.length("name") > 2)
        .filter(~F.lower(F.col("name")).isin(refs.exact_blacklist))
    )
    if refs.wildcard_blacklist:
        cleaned = cleaned.filter(
            ~tx.contains_any(F.lower(F.col("name")), refs.wildcard_blacklist)
        )
    return cleaned.select("pmid", "confidence", F.col("name").alias("compound"))


def compound_stats(clean: DataFrame) -> DataFrame:
    """A1 — per lowercased compound: distinct-PMID count, display
    name, string-sorted ';' PMID list (finalize_realease.py:591-602).
    Display name pinned to min(compound) for determinism (the
    reference's first() is file-order dependent — SURVEY §7)."""
    return (
        clean.groupBy(F.lower(F.col("compound")).alias("__key"))
        .agg(
            F.countDistinct("pmid").alias("pubmed_references"),
            F.min("compound").alias("compound"),
            F.concat_ws(";", F.sort_array(F.collect_set("pmid"))).alias("pubmed_ids"),
        )
        .drop("__key")
        .withColumn("known_status", F.lit("new"))
    )


def union_known(stats: DataFrame, known: list[str], spark: SparkSession) -> DataFrame:
    """U1 — knowns appended with literal pubmed_references=100 (which
    lands them in the 'high' bin, finalize_realease.py:605-616)."""
    known_df = local_frame(
        spark,
        [(name, 100, "", "known") for name in known],
        "compound string, pubmed_references long, pubmed_ids string, known_status string",
    )
    return stats.unionByName(known_df)


def add_confidence_bins(stats: DataFrame) -> DataFrame:
    """A5 — right-closed pd.cut bins at 1/2/4."""
    return stats.withColumn(
        "confidence_pubmed",
        bin_right_closed(
            F.col("pubmed_references"), [1, 2, 4], ["very-low", "low", "medium", "high"]
        ),
    )


def resolve_smiles(
    stats: DataFrame,
    refs: ReferenceData,
    spark: SparkSession,
    fetcher_factory: rest_op.FetcherFactory | None = None,
) -> DataFrame:
    """J5/J6/S7 — internal db (exact → lowercased) then optional REST
    fallback, '' when unresolved (finalize_realease.py:681-699)."""
    cache = local_frame(spark, refs.smiles_db.items(), "key string, value string")
    if fetcher_factory is None:
        fetcher_factory = rest_op.stub_fetcher_factory({})
    resolved, _new = rest_op.resolve_with_cache(
        stats,
        cache,
        fetcher_factory,
        key_col="compound",
        out_col="SMILES",
        config=rest_op.FetchConfig(rate_limit_s=0.0),
    )
    return resolved


RELEASE_COLUMNS = [
    "compound",
    "pubmed_references",
    "known_status",
    "confidence_pubmed",
    "pubmed_ids",
    "MaxSim_all",
    "TopKMean_all",
    "BestRef_name",
    "confidence_similarity",
    "has_biguanide_core",
    "has_biguanide_motif",
    "sim_biguanide_tversky",
    "sim_biguanide_dice",
    "best_biguanide_like_tversky",
    "best_ref_name_tversky",
    "best_biguanide_like_dice",
    "best_ref_name_dice",
    "SMILES",
]


def build_release(
    gpt: DataFrame,
    refs: ReferenceData,
    spark: SparkSession,
    fetcher_factory: rest_op.FetcherFactory | None = None,
    backend_factory: chem.BackendFactory = chem.default_backend,
) -> tuple[DataFrame, DataFrame]:
    """The whole stage. Returns (new_rows, all_rows):

    * new_rows — `processed_new` (pmid, confidence, compound): every
      surviving candidate row, no aggregation
      (finalize_realease.py:574-582).
    * all_rows — `processed_all`: the 18-column ranked compound table
      ordered by (pubmed_references desc, compound asc)
      (finalize_realease.py:624-628).
    """
    clean = clean_candidates(gpt, refs)
    # blacklisting uses the RAW known names (finalize_realease.py:474)
    # but the union gets the CURATED list (:527-540) — order matters.
    curated = curate_known_inhibitors(refs.known_inhibitors)
    stats = add_confidence_bins(union_known(compound_stats(clean), curated, spark))
    # Rank first, then annotate: the range exchange's sample job and
    # its map stage both run the plan below it, so chemistry placed
    # below the sort would score every row twice. The kernel's
    # projection keeps row order.
    ranked = resolve_smiles(stats, refs, spark, fetcher_factory).orderBy(
        F.desc("pubmed_references"), F.asc("compound")
    )
    all_rows = chem.score_panels(
        ranked, refs.panel_smiles, refs.biguanide_refs, backend_factory=backend_factory
    ).select(*RELEASE_COLUMNS)
    return clean, all_rows
