"""Known-inhibitor removal + PubTator intersection + final topical
regex (SURVEY J2/J3, P6/P7; reference scripts/merge_filter.sh).

Reference plan: rg -v -i -F (Aho-Corasick anti-filter) → external
sort + join (semi) → rg -iP lookahead regex. Spark plan: one
alternation rlike anti-filter → broadcast/shuffle semi join →
rlike (Java regex supports the lookahead verbatim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aurora_mito_etl_spark.operators.joins import semi_join
from aurora_mito_etl_spark.operators.text import dictionary_anti_filter

# The reference's final PCRE topicality pattern (merge_filter.sh:83-84).
# Java regex accepts the lookahead and the dash classes unchanged; (?i)
# replaces rg's -i flag. One reordering: the reference opens the first
# branch with (?=.*\bmitochondr), which find() evaluates at every
# position — a scan to the end of the line from each character,
# quadratic in abstract length. Zero-width assertions at one position
# are a conjunction, so testing \b(?=complex) first keeps the match set
# and runs the line scan only where a word starts with "complex".
FINAL_TOPICAL_RE = (
    r"(?i)(?:\b(?=complex)(?=.*\bmitochondr)complex(?:es)?\b[\s\-]*"
    r"(?:(?:I|1)(?:\s*[-–—−]\s*(?:II|2|III|3|IV|4|V|5))?)\b"
    r"|\bNADH\b(?:\s*[:\-–—−]\s*|[-\s]*(?:dependent|linked)\s+)?"
    r"(?:dehydrogenase(?:s)?|(?:ubiquinone|quinone)\s*oxidoreductase)\b)"
)


def remove_known_inhibitors(
    abstracts: DataFrame, inhibitor_names: list[str], text_col: str = "title_abstract"
) -> DataFrame:
    """Step 1 (P7/J3): drop rows mentioning any curated known
    inhibitor; pattern cleaning (comments, len≥3) inside the
    operator mirrors merge_filter.sh:56-62."""
    return dictionary_anti_filter(abstracts, text_col, inhibitor_names, min_len=3)


def intersect_pubtator(abstracts: DataFrame, pmids: DataFrame) -> DataFrame:
    """Step 2 (J2): keep abstracts whose pmid is PubTator-annotated."""
    return semi_join(abstracts, pmids.select("pmid"), "pmid")


def final_topical_filter(
    abstracts: DataFrame, text_col: str = "title_abstract"
) -> DataFrame:
    """Step 3 (P6): the final complex-I/NADH phrasing filter."""
    return abstracts.filter(F.col(text_col).rlike(FINAL_TOPICAL_RE))


def merge_and_filter(
    abstracts: DataFrame, inhibitor_names: list[str], pubtator_pmids: DataFrame
) -> DataFrame:
    """The full stage; preserves the (pmid, year, title_abstract)
    schema (merge_filter.sh:39,84)."""
    out = remove_known_inhibitors(abstracts, inhibitor_names)
    out = intersect_pubtator(out, pubtator_pmids)
    return final_topical_filter(out)
