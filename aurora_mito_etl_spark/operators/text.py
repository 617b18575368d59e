"""Text cleaning / filtering operators (SURVEY.md §2.2 P1-P18).

Re-expresses the reference's per-line awk/sed/iconv pipeline
(reference scripts/process_pubmed.sh:84-135) as pure Catalyst column
expressions, so the whole chain fuses into one whole-stage-codegen'd
projection — no Python in the hot path. The two genuinely
non-relational steps (NFC normalization P13, ASCII transliteration
P15) are Arrow-batched pandas UDFs in
:mod:`aurora_mito_etl_spark.operators.unicode_udfs`.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Column-level building blocks
# ---------------------------------------------------------------------------


def squeeze_ws(col: Column) -> Column:
    """P10 — collapse runs of whitespace to one space and trim.

    Reference: awk gsub(/[[:space:]]+/," ") + trim,
    scripts/process_pubmed.sh:95-99; run_gpt_filter.py:72-79.
    """
    return F.trim(F.regexp_replace(col, r"\s+", " "))


_INLINE_TAGS = r"(?i)</?(?:sup|sub|i|b|u|em|strong|small|p|br)\b[^>]*/?>"


def strip_inline_tags(col: Column) -> Column:
    """P12 — remove inline HTML markup left in abstracts.

    Reference: sed tag strip, scripts/process_pubmed.sh:117.
    """
    return F.regexp_replace(col, _INLINE_TAGS, "")


def scrub_special_chars(col: Column) -> Column:
    """P14 — NBSP→space; drop zero-width chars, BOM, C0 controls, DEL.

    Reference: scripts/process_pubmed.sh:123-132.
    """
    c = F.regexp_replace(col, " ", " ")
    c = F.regexp_replace(c, "[​‌‍﻿]", "")
    return F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")


def canonicalize_dashes(col: Column) -> Column:
    """F6 — en dash / em dash / minus sign → ASCII hyphen.

    Reference: scripts/finalize_realease.py:520,650.
    """
    return F.translate(col, "–—−", "---")


def fix_title_terminator(title: Column) -> Column:
    """P11 — append '.' when the title lacks a terminator.

    Reference: scripts/process_pubmed.sh:105-106.
    """
    return F.when(title.endswith("."), title).otherwise(F.concat(title, F.lit(".")))


def clean_text(col: Column) -> Column:
    """The composed P12→P14→F6→P10 cleaning chain (single projection)."""
    return squeeze_ws(canonicalize_dashes(scrub_special_chars(strip_inline_tags(col))))


def truncate_at_unmatched_paren(col: Column) -> Column:
    """P16 — if '(' appears without ')', keep the prefix before '('.

    Reference `openparanthese`, scripts/finalize_realease.py:542-549.
    """
    return F.when(
        col.contains("(") & ~col.contains(")"),
        F.trim(F.substring_index(col, "(", 1)),
    ).otherwise(col)


def apply_ordered_substitutions(col: Column, pairs: list[tuple[str, str]]) -> Column:
    """P17 — ordered find→replace chain (substring, not word, semantics).

    Order matters ('analogs'→'' must precede 'analog'→''); reference
    scripts/finalize_realease.py:495-504 applies data/reference/typos.txt
    in file order. Folds into nested regexp_replace calls — still one
    codegen'd expression.
    """
    # Java replaceAll treats '\' and '$' specially in the REPLACEMENT
    # string — escape backslashes first, then dollars.
    return reduce(
        lambda c, pair: F.regexp_replace(
            c,
            re.escape(pair[0]),
            pair[1].replace("\\", "\\\\").replace("$", r"\$"),
        ),
        pairs,
        col,
    )


# ---------------------------------------------------------------------------
# Predicates
# ---------------------------------------------------------------------------


def non_empty(col: Column) -> Column:
    """P2 — reference drops empty title/abstract fields
    (scripts/process_pubmed.sh:101; process_pubtator.sh:30)."""
    return col.isNotNull() & (col != "")


def not_bracket_prefixed(col: Column) -> Column:
    """P3 — titles starting '[' mark foreign-language entries
    (scripts/process_pubmed.sh:102)."""
    return ~col.startswith("[")


def extract_year(raw: Column) -> Column:
    """P4 — first (19|20)\\d{2} match, NULL when absent
    (scripts/process_pubmed.sh:103-104)."""
    y = F.regexp_extract(raw, r"((?:19|20)[0-9]{2})", 1)
    return F.when(y == "", None).otherwise(y.cast("int"))


def topical_filter(col: Column, verb_re: str, *topic_res: str) -> Column:
    """P5 — verb-regex AND any(topic-regex), all case-insensitive
    (scripts/process_pubmed.sh:60-68,108-113). Pure rlike — Catalyst
    pushes it into the scan when the source supports it."""
    pred = col.rlike(f"(?i){verb_re}")
    topics = None
    for t in topic_res:
        m = col.rlike(f"(?i){t}")
        topics = m if topics is None else (topics | m)
    return pred & topics if topics is not None else pred


def contains_any(col: Column, terms: list[str], case_insensitive: bool = True) -> Column:
    """P7 core — multi-pattern fixed-string containment.

    The reference uses ripgrep's Aho-Corasick (`rg -F -f`,
    scripts/merge_filter.sh:56-62). In Spark we compile ONE alternation
    regex so the match stays JVM-side in a single rlike; for
    dictionaries beyond ~10⁴ terms switch to
    :func:`dictionary_filter_udf` (pyahocorasick path) — see SURVEY §4.
    """
    if not terms:
        return F.lit(False)
    alternation = "|".join(re.escape(t) for t in terms if t)
    flags = "(?i)" if case_insensitive else ""
    return col.rlike(f"{flags}(?:{alternation})")


def dictionary_anti_filter(
    df: DataFrame, col: str, terms: list[str], min_len: int = 3
) -> DataFrame:
    """P7/J3 — drop rows whose `col` contains any dictionary term.

    Mirrors the reference's pattern-file cleaning (strip comments,
    len >= 3: scripts/merge_filter.sh:56-62) then `rg -v -i -F`.
    Dispatches on dictionary size: one compiled alternation rlike
    (JVM-side, codegen) for small dictionaries, the Aho-Corasick
    pandas UDF for large ones (SURVEY §4: rg -F is Aho-Corasick —
    a 10⁵-term alternation regex would be quadratic-ish to match
    and can exceed regex size limits).
    """
    # comment detection on the STRIPPED line (an indented '# …' line
    # must not become a live term)
    cleaned = [t.strip() for t in terms]
    cleaned = [t for t in cleaned if t and not t.startswith("#") and len(t) >= min_len]
    if len(cleaned) > _AC_THRESHOLD:
        return df.filter(~contains_any_ac(F.col(col), cleaned))
    return df.filter(~contains_any(F.col(col), cleaned))


# Alternation-regex matching cost grows with dictionary size; beyond
# this many terms the linear-time automaton wins despite Python.
_AC_THRESHOLD = 256


class AhoCorasick:
    """Minimal Aho-Corasick automaton (dict-of-dicts trie + BFS
    failure links) for multi-pattern substring search. Pure Python —
    built once per executor worker inside the UDF, linear scan per
    document regardless of dictionary size."""

    def __init__(self, patterns: list[str]):
        self.goto: list[dict[str, int]] = [{}]
        self.fail: list[int] = [0]
        self.hit: list[bool] = [False]
        for p in patterns:
            self._insert(p)
        self._build_failures()

    def _insert(self, pattern: str) -> None:
        state = 0
        for ch in pattern:
            nxt = self.goto[state].get(ch)
            if nxt is None:
                nxt = len(self.goto)
                self.goto.append({})
                self.fail.append(0)
                self.hit.append(False)
                self.goto[state][ch] = nxt
            state = nxt
        self.hit[state] = True

    def _build_failures(self) -> None:
        from collections import deque

        queue = deque(self.goto[0].values())
        while queue:
            state = queue.popleft()
            for ch, nxt in self.goto[state].items():
                queue.append(nxt)
                f = self.fail[state]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[nxt] = self.goto[f].get(ch, 0) if self.goto[f].get(ch, 0) != nxt else 0
                self.hit[nxt] = self.hit[nxt] or self.hit[self.fail[nxt]]

    def matches(self, text: str) -> bool:
        state = 0
        for ch in text:
            while state and ch not in self.goto[state]:
                state = self.fail[state]
            state = self.goto[state].get(ch, 0)
            if self.hit[state]:
                return True
        return False


# Per-process automaton cache: a pandas UDF's batch function runs
# many times per task (one call per ~10k-row Arrow batch) and Python
# workers are reused across tasks — rebuilding a 10⁵-term trie per
# batch would rival the scan cost the automaton exists to avoid.
# Keyed by the term tuple; bounded (drop-all) so a long-lived worker
# streaming many distinct dictionaries can't grow without limit.
_AC_CACHE: dict[tuple[str, ...], "AhoCorasick"] = {}
_AC_CACHE_MAX = 8


def _cached_automaton(lowered: tuple[str, ...]) -> "AhoCorasick":
    ac = _AC_CACHE.get(lowered)
    if ac is None:
        if len(_AC_CACHE) >= _AC_CACHE_MAX:
            _AC_CACHE.clear()
        ac = _AC_CACHE[lowered] = AhoCorasick(list(lowered))
    return ac


def contains_any_ac(col: Column, terms: list[str]) -> Column:
    """P7 at scale — case-insensitive contains-any via an
    Aho-Corasick automaton in an Arrow pandas UDF. The automaton is
    built once per worker process (module cache keyed by the term
    tuple — NOT per Arrow batch), then each document is one linear
    pass — dictionary size only affects the first batch."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    lowered = tuple(t.lower() for t in terms if t)

    def ac_batch(s):
        ac = _cached_automaton(lowered)
        # NULL in -> NULL out (not False): a NULL document must behave
        # like SQL contains/rlike so that `filter(~contains_any_ac(...))`
        # DROPS it, matching the small-dictionary rlike path and the
        # oracle's WHERE NOT regexp_matches(...) three-valued logic
        # (r9 schema-chaos tier, docs_allnull variant).
        return s.map(lambda v: ac.matches(v.lower()) if v is not None else None)

    return pandas_udf(ac_batch, T.BooleanType())(col)


def explode_delimited(
    df: DataFrame, col: str, out_col: str, sep: str = ";"
) -> DataFrame:
    """D6 — one row per `sep`-separated item, trimmed, empties dropped.

    Reference: scripts/finalize_realease.py:558-564.
    """
    item = F.explode(F.split(F.col(col), re.escape(sep)))
    return (
        df.withColumn(out_col, item)
        .withColumn(out_col, F.trim(F.col(out_col)))
        .filter(non_empty(F.col(out_col)))
    )


def chunk_windows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 128,
    stride: int = 64,
) -> DataFrame:
    """Overlapping token-window chunks: the RAG/context-window prep op.

    Whitespace tokens; chunk i covers tokens [i·stride, i·stride +
    window); chunk count = 1 + ceil(max(n − window, 0) / stride), so
    the tail is covered exactly once and no chunk is a subset of its
    predecessor. Emits (id, chunk_id, n_chunk_tokens, chunk_text).

    Pure Catalyst expressions (split/sequence/slice/explode) — one
    codegen'd projection per row, no UDF, no shuffle; output rows are
    at most n/stride + 1 per doc, so the explode fan-out is bounded
    and linear at any corpus size.
    """
    if stride <= 0 or window_tokens <= 0:
        raise ValueError("window_tokens and stride must be positive")
    if stride > window_tokens:
        # stride past the window leaves uncovered token gaps — never
        # the chunking contract (caught by the tiling property test)
        raise ValueError("stride must be <= window_tokens (gap-free tiling)")
    toks = F.filter(
        F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " "),
        lambda x: x != "",
    )
    n = F.size(toks)
    n_chunks = (
        F.lit(1)
        + F.ceil(
            F.greatest(n - F.lit(window_tokens), F.lit(0))
            / F.lit(float(stride))
        )
    ).cast("int")
    out = (
        df.select(F.col(id_col), toks.alias("__toks"), n.alias("__n"), n_chunks.alias("__nc"))
        .filter(F.col("__n") > 0)
        .select(
            F.col(id_col),
            F.col("__toks"),
            F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("chunk_id"),
        )
    )
    chunk = F.slice(
        F.col("__toks"), F.col("chunk_id") * stride + 1, window_tokens
    )
    return out.select(
        F.col(id_col),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def _doc_lines(
    df: DataFrame, text_col: str, id_col: str, group_col: str
) -> DataFrame:
    """(group, id, pos, raw, line): 0-based newline-split lines with
    the raw form preserved and a trimmed match key."""
    return df.select(
        F.col(group_col),
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "raw"),
    ).withColumn("line", F.trim(F.col("raw")))


def boilerplate_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    min_docs: int = 3,
) -> DataFrame:
    """(group, line, n_docs): non-empty trimmed lines appearing in at
    least `min_docs` DISTINCT documents of the same group — the
    CCNet/C4 line-level boilerplate detector (nav bars, cookie
    banners, license footers repeat across a source's pages; span and
    shingle dedup miss them because the surrounding text differs).

    Scale shape: one explode then ONE partial-aggregating groupBy on
    (group, line) with an exact distinct-doc count — no self-join, no
    window. A line shared by millions of docs is a hot GROUP key, not
    a pair explosion: cost stays linear in total line count. For very
    long lines, md5(line) can stand in as the shuffle/join key; the
    exact text key is kept here for oracle portability.

    Beyond-reference surface (the reference dedups whole records
    only); same family as Wenzek et al., "CCNet" (LREC 2020) §4.1.
    """
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (1 marks every line)")
    lines = _doc_lines(df, text_col, id_col, group_col).filter(
        F.col("line") != ""
    )
    return (
        lines.groupBy(group_col, "line")
        .agg(F.countDistinct(id_col).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    group_col: str,
    min_docs: int = 3,
    out_col: str = "clean_text",
) -> DataFrame:
    """(id, clean_text): text rebuilt with its group's boilerplate
    lines removed, original line order and raw (untrimmed) line forms
    preserved; empty-after-trim lines are never treated as
    boilerplate. A doc whose every line is boilerplate yields ''.

    Plan: lines anti-join the detector output on (group, trimmed
    line) — the boilerplate side is threshold-filtered and far
    smaller than the corpus (broadcast-eligible; AQE decides) — then
    one groupBy(id) reassembles via array_sort(struct(pos, raw)), a
    deterministic order-restoring fold. The final LEFT join from the
    input keeps fully-stripped docs.
    """
    lines = _doc_lines(df, text_col, id_col, group_col)
    bp = boilerplate_lines(df, text_col, id_col, group_col, min_docs)
    kept = lines.join(
        bp.select(group_col, "line"), [group_col, "line"], "left_anti"
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "raw"))),
                lambda x: x["raw"],
            ),
            "\n",
        ).alias(out_col)
    )
    return df.select(id_col).join(rebuilt, id_col, "left").select(
        F.col(id_col), F.coalesce(F.col(out_col), F.lit("")).alias(out_col)
    )


def dedup_lines_across_docs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_col: str = "clean_text",
) -> DataFrame:
    """(id, clean_text): corpus-wide keep-first line dedup (the C4 §2.2
    / CCNet family applied at line grain across documents): every
    distinct non-blank trimmed line survives exactly once, at its
    first corpus-wide occurrence ordered by (id, pos), keeping that
    occurrence's raw untrimmed form; every other occurrence — in the
    same doc or any other — is dropped. Blank-after-trim lines are
    structure and always survive. Complements strip_boilerplate
    (per-source removal of ALL occurrences above a threshold) and
    dedup_lines_within_doc (per-doc keep-first).

    Scale shape: survivor selection is min(struct(id, pos, raw)) per
    trimmed line — a map-side-combinable aggregate, so a line repeated
    across a million documents costs one combiner cell per map task,
    never a row_number window over a corpus-sized hot partition — and
    because (id, pos) is unique the survivor's raw form rides along in
    the same struct, so there is NO join back. Blank lines bypass the
    line shuffle entirely. Total: one line-keyed shuffle, one
    groupBy(id) reassembly, one id-keyed left join to keep docs whose
    every line lost.

    Beyond-reference surface (the reference dedups whole records
    only); Raffel et al., "C4" (JMLR 2020) §2.2 dedup step.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "raw"),
    ).withColumn("line", F.trim(F.col("raw")))
    first = (
        lines.filter(F.col("line") != "")
        .groupBy("line")
        .agg(F.min(F.struct(F.col(id_col), F.col("pos"), F.col("raw"))).alias("f"))
        .select(
            F.col(f"f.{id_col}").alias(id_col),
            F.col("f.pos").alias("pos"),
            F.col("f.raw").alias("raw"),
        )
    )
    kept = first.unionByName(
        lines.filter(F.col("line") == "").select(id_col, "pos", "raw")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "raw"))),
                lambda x: x["raw"],
            ),
            "\n",
        ).alias(out_col)
    )
    return df.select(id_col).join(rebuilt, id_col, "left").select(
        F.col(id_col), F.coalesce(F.col(out_col), F.lit("")).alias(out_col)
    )


def dedup_lines_within_doc(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_col: str = "clean_text",
) -> DataFrame:
    """(id, clean_text): each document rebuilt with only the FIRST
    occurrence of every repeated non-empty line kept (match key is the
    trimmed line; the surviving occurrence keeps its raw untrimmed
    form and position). Blank-after-trim lines are structure, not
    content, and are never collapsed. The intra-document complement of
    strip_boilerplate: scraped pages repeat their own nav/footer
    lines, which a cross-document detector cannot see when the doc's
    source has no siblings (Rae et al., "Gopher" repetition family).

    Scale shape: one explode, one window partitioned by (doc, line) —
    partition grain is a single line's occurrences within one doc, so
    skew is bounded by document size, never corpus size — then one
    groupBy(id) order-restoring reassembly. No join, no self-join.
    """
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "raw"),
    ).withColumn("line", F.trim(F.col("raw")))
    w = Window.partitionBy(id_col, "line").orderBy(F.col("pos").asc_nulls_last())
    kept = (
        lines.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) | (F.col("line") == ""))
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "raw"))),
                lambda x: x["raw"],
            ),
            "\n",
        ).alias(out_col)
    )
    return df.select(id_col).join(rebuilt, id_col, "left").select(
        F.col(id_col), F.coalesce(F.col(out_col), F.lit("")).alias(out_col)
    )
