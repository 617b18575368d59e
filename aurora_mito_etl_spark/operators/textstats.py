"""Text-analysis operators for training-data pipelines.

Beyond-reference surface (per BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting. All pure
Catalyst column expressions — they run JVM-side inside whole-stage
codegen and scale linearly with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from aurora_mito_etl_spark.functions.numeric import fixed6 as _fixed6

# Tiny per-language stopword panels. A real deployment swaps in a
# larger dictionary; the operator shape (regex-hit counting + argmax)
# is what matters and is identical at any dictionary size.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por"],
    "fr": ["le", "la", "les", "des", "est", "dans", "pour", "une"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不"],
}

# A BPE-ish pre-tokenizer: letter runs, digit runs, or single
# non-space symbols. The whitespace class is spelled out EXPLICITLY:
# Java's \s is [ \t\n\x0b\f\r] but RE2's \s omits \x0b (vertical tab),
# so a literal \s in a pattern shared with the DuckDB oracle counts
# \x0b as a symbol token on one engine only (found by tools/
# fuzz_gate.py on adversarial text; the shipped generator never emits
# \x0b so the driver gate could not see it).
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]"


def _word_re(w: str) -> str:
    # \b word-boundary works identically in Java regex and RE2 for
    # ASCII words; CJK single chars match bare.
    return rf"\b{w}\b" if w.isascii() else w


def stopword_hits(col: Column, lang: str) -> Column:
    """Count of stopword occurrences for one language panel."""
    pat = "|".join(_word_re(w) for w in LANG_STOPWORDS[lang])
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(f"({pat})"), 1))


def lang_id(col: Column) -> Column:
    """Heuristic language ID: arg-max of per-language stopword hits,
    'und' when nothing matches. Deterministic tie-break by language
    code (greatest(struct(hits, code)) picks the lexicographically
    largest code on ties — stable across engines)."""
    candidates = [
        F.struct(stopword_hits(col, code).alias("h"), F.lit(code).alias("code"))
        for code in sorted(LANG_STOPWORDS)
    ]
    best = F.greatest(*candidates)
    return F.when(best["h"] > 0, best["code"]).otherwise("und")


def tokens_expr(col: Column) -> Column:
    """THE shared Catalyst-side tokenization (ASCII-ws collapse, trim,
    lower, split on single space) — the Column twin of
    :func:`ascii_ws_tokens` and the exact chain every SQL oracle's
    string_split mirrors. Import this instead of re-deriving it
    (copies silently de-synchronize token streams across paths)."""
    return F.split(
        F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))), " "
    )


def tokens_sql(expr: str) -> str:
    """DuckDB SQL twin of :func:`tokens_expr` — the ONLY SQL spelling
    of the tokenizer. The whitespace class is spelled out (Java's
    ``\\s`` is ``[ \\t\\n\\x0b\\f\\r]``; RE2's omits ``\\x0b``) and the
    trim is ASCII-space only like ``F.trim``. Empty text yields
    ``['']``, as the Column form does."""
    return (
        rf"string_split(lower(trim(regexp_replace({expr}, "
        rf"'[ \t\n\x0b\f\r]+', ' ', 'g'), ' ')), ' ')"
    )


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(col), r"\s+"))


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count via the pre-tokenizer regex."""
    return F.size(F.regexp_extract_all(col, F.lit(f"({TOKEN_RE})"), 1))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band, alpha ratio,
    punctuation ratio, mean word length band. The standard cheap
    pre-filter in LLM data pipelines (C4/Gopher-style rules)."""
    n = F.length(col).cast("double")
    alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", "")).cast("double")
    punct = F.length(F.regexp_replace(col, r"[^.,;:!?]", "")).cast("double")
    words = token_count_ws(col).cast("double")
    mean_wl = F.when(words > 0, (n - words + 1) / words).otherwise(F.lit(0.0))
    len_band = F.when((n >= 50) & (n <= 20000), 1.0).otherwise(0.25)
    alpha_band = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    punct_band = F.when(
        n > 0, F.when(punct / n <= 0.1, 1.0).otherwise(0.5)
    ).otherwise(F.lit(0.0))
    wl_band = F.when((mean_wl >= 2.0) & (mean_wl <= 12.0), 1.0).otherwise(0.5)
    # fixed6, NOT round(,6): Spark rounds doubles HALF_UP, DuckDB
    # half-even — a score landing on a 6-dp tie digit hash-mismatches
    # the oracle (this exact site shipped driver-red in round 5).
    return _fixed6((len_band + alpha_band + punct_band + wl_band) / 4.0)


def fingerprint_md5(col: Column) -> Column:
    """Content fingerprint: md5 of the whitespace-normalized,
    lowercased text. Portable across engines (md5 everywhere), used
    as the exact-dedup key."""
    return F.md5(F.lower(F.trim(F.regexp_replace(col, r"\s+", " "))))


def repetition_signals(df, text_col: str, id_col: str):
    """Gopher-style within-document repetition signals: duplicate-word
    fraction (1 − distinct/total) and top-word fraction (most frequent
    word / total) over lowercased whitespace words. High values mark
    boilerplate / template / spam documents — the standard repetition
    filter in LLM data pipelines (Rae et al. 2021 §A1.2).

    Plan: explode words → one partial-agg groupBy (doc, word) → one
    groupBy doc. Two shuffles on the doc id, both map-side combined;
    no per-row higher-order folds (50-100× slower at this shape).
    Docs with no words emit 0.0 signals (not NULL) so a filter on
    `dup_frac <= x` never silently drops empties.
    """
    words = df.select(
        F.col(id_col),
        F.explode(
            F.filter(tokens_expr(F.col(text_col)), lambda w: w != "")
        ).alias("w"),
    )
    per_word = words.groupBy(id_col, "w").agg(F.count("*").alias("c"))
    per_doc = per_word.groupBy(id_col).agg(
        F.sum("c").alias("total_words"),
        F.count("*").alias("distinct_words"),
        F.max("c").alias("top_count"),
    )
    ids = df.select(id_col).distinct()
    return (
        ids.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("total_words", F.lit(0)).alias("total_words"),
            F.coalesce("distinct_words", F.lit(0)).alias("distinct_words"),
            _fixed6(
                F.when(
                    F.col("total_words") > 0,
                    1.0 - F.col("distinct_words") / F.col("total_words"),
                ).otherwise(F.lit(0.0))
            ).alias("dup_word_frac"),
            _fixed6(
                F.when(
                    F.col("total_words") > 0,
                    F.col("top_count") / F.col("total_words"),
                ).otherwise(F.lit(0.0))
            ).alias("top_word_frac"),
        )
    )


def shingles(col: Column, k: int = 3) -> Column:
    """Array of k-word shingles (space-joined) from lowercased text.

    Built from split+transform so it stays a Catalyst expression —
    the executable SPEC (and what the SQL oracles mirror).
    :func:`shingles_arrow` produces the identical strings ~20× faster
    (HOF lambdas evaluate interpreted, ~15 µs per shingle; the hot
    dedup operators use the Arrow twin, pinned by a parity test).
    """
    toks = tokens_expr(col)
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1)))
    return F.when(
        n >= k,
        F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
        ),
    ).otherwise(F.array().cast("array<string>"))


# Java-regex \s is ASCII-only [ \t\n\x0B\f\r]; Python re's \s is
# Unicode-aware — the Python twins must replicate the JVM class
# exactly or exotic whitespace would tokenize differently than the
# oracles.
import re as _re

_JAVA_WS = _re.compile(r"[ \t\n\x0b\f\r]+")


def ascii_ws_tokens(t: str | None) -> list[str]:
    """THE shared Python-side tokenization: ASCII-whitespace collapse,
    trim, lower, split — byte-identical to what :func:`shingles` /
    the SQL oracles produce. Every gram-based Python path (Arrow
    shingling here, the streaming near-dup signatures) MUST import
    this instead of re-deriving it, or signatures silently
    de-synchronize across paths. NULL → []."""
    if t is None:
        return []
    s = _JAVA_WS.sub(" ", t).strip(" ").lower()
    return s.split(" ") if s else []


def shingles_arrow(col: Column, k: int = 3) -> Column:
    """Arrow-batched twin of :func:`shingles`: identical output
    strings (same ASCII-whitespace collapse, trim, lower, split), one
    Python loop per batch instead of an interpreted slice+concat
    expression tree per shingle. NULL text → empty array (matches the
    expression form's otherwise-branch)."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    def batch(s):
        out = []
        for t in s:
            toks = ascii_ws_tokens(t)
            n = len(toks)
            if n < k:
                out.append([])
            else:
                out.append([" ".join(toks[i : i + k]) for i in range(n - k + 1)])
        return pd.Series(out)

    return pandas_udf(batch, T.ArrayType(T.StringType()))(col)


def ngram_repetition_signals(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 3,
    max_top_char_frac: float = 0.20,
    max_dup_char_frac: float = 0.18,
):
    """Gopher's n-gram repetition filters (Rae et al. 2021 A1.1),
    complementing :func:`repetition_signals`' word-level fractions:

    * ``top{n}_char_frac`` — length(gram)·count of the single most
      frequent `top_n`-gram over the document's normalized characters
      (ties break to the lexicographically smallest gram so the
      winner is engine-deterministic).
    * ``dup{n}_char_frac`` — character-weighted fraction of `dup_n`-
      gram OCCURRENCES whose gram occurs more than once.

    DELIBERATE divergence from the paper's exact character coverage
    for BOTH signals (coverage needs interval-union over overlapping
    spans — not expressible without per-row loops): occurrence-
    weighting upper-bounds it, can even exceed 1.0 for periodic text
    ('spam spam spam' → top2 ≈ 1.6), and ranks documents identically
    in practice; the thresholds gate the same tail.

    Thresholds default to the published 2-gram/3-gram values;
    ``repetition_keep`` is their conjunction. Documents with no
    grams score 0.0 (never NULL) and pass. Plan: one explode +
    two-level hash aggregate per signal, both map-side combined —
    the same shuffle shape as the dedup tier's shingle pass.
    """
    from pyspark.sql import functions as F

    s = F.trim(
        F.regexp_replace(
            F.coalesce(F.col(text_col), F.lit("")), r"[ \t\n\x0b\f\r]+", " "
        )
    )
    base = df.select(F.col(id_col), F.lower(s).alias("__s"))
    n_chars = base.select(
        id_col, F.length("__s").alias("__chars")
    )

    def gram_counts(n: int):
        return (
            base.select(
                F.col(id_col),
                F.explode(shingles_arrow(F.col("__s"), n)).alias("g"),
            )
            .groupBy(id_col, "g")
            .agg(F.count("*").alias("c"))
        )

    from aurora_mito_etl_spark.functions.numeric import fixed6

    from pyspark.sql import Window

    w_top = Window.partitionBy(id_col).orderBy(
        F.col("c").desc(), F.col("g").asc()
    )
    top = (
        gram_counts(top_n)
        .withColumn("__rn", F.row_number().over(w_top))
        .filter(F.col("__rn") == 1)
        .select(id_col, (F.length("g") * F.col("c")).alias("__top_chars"))
    )
    dup = (
        gram_counts(dup_n)
        .groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("c") > 1, F.length("g") * F.col("c")).otherwise(0)
            ).alias("__dup_chars"),
            F.sum(F.length("g") * F.col("c")).alias("__all_chars"),
        )
    )
    out = (
        n_chars.join(top, id_col, "left")
        .join(dup, id_col, "left")
        .select(
            F.col(id_col),
            fixed6(
                F.when(
                    F.col("__chars") > 0,
                    F.coalesce("__top_chars", F.lit(0)).cast("double")
                    / F.col("__chars"),
                ).otherwise(F.lit(0.0))
            ).alias(f"top{top_n}_char_frac"),
            fixed6(
                F.when(
                    F.coalesce("__all_chars", F.lit(0)) > 0,
                    F.coalesce("__dup_chars", F.lit(0)).cast("double")
                    / F.col("__all_chars"),
                ).otherwise(F.lit(0.0))
            ).alias(f"dup{dup_n}_char_frac"),
        )
    )
    return out.withColumn(
        "repetition_keep",
        (F.col(f"top{top_n}_char_frac") <= max_top_char_frac)
        & (F.col(f"dup{dup_n}_char_frac") <= max_dup_char_frac),
    )


def heavy_hitter_tokens(
    df,
    text_col: str = "text",
    top_n: int = 20,
    counters: int = 65536,
):
    """Global top-`top_n` corpus tokens WITHOUT shuffling the
    vocabulary: the bounded-memory scale twin of the full-shuffle
    per-source ranking in ``docs_top_words``.

    Two passes:

    1. **Candidates** — one Arrow pass per input partition running a
       batched Misra-Gries summary with at most `counters` entries
       (merge each batch's exact counts, then subtract the order
       statistic that restores the size bound and drop the zeros).
       Each reduction subtracts its depth ``d`` from >= counters+1
       entries at once, so the total decrement depth per partition is
       <= n_p/(counters+1): every token whose LOCAL count exceeds
       n_p/(counters+1) survives, and by pigeonhole every token whose
       GLOBAL count exceeds n_tokens/(counters+1) survives in at
       least one partition. Output is candidate token strings only —
       MG stored counts are underestimates and are discarded.
    2. **Exact recount** — broadcast the <= counters·P candidates
       back over the token stream; the groupBy shuffles at most one
       row per (task, candidate), then `orderBy().limit(top_n)` is a
       TakeOrderedAndProject (partition-local top-N + driver merge of
       N·P rows — no global sort, no unpartitioned window).

    Every emitted ``cnt`` is the EXACT corpus count of its token. A
    row with ``exact_guaranteed`` (cnt·(counters+1) > n_tokens) is
    provably in the true global top-k at its position: any token the
    sketch missed has count <= n_tokens/(counters+1) < cnt. Rows
    below the threshold are best-effort (counts still exact, ranking
    possibly incomplete) — size `counters` so the tail clears it.
    The result is partition-invariant whenever the guarantee holds.

    Tokenization is the shared :func:`tokens_expr` chain; empty
    tokens are dropped and NULL text contributes nothing.
    """
    import numpy as np
    import pandas as pd

    tokens = df.select(
        F.explode(tokens_expr(F.coalesce(F.col(text_col), F.lit("")))).alias(
            "tok"
        )
    ).where(F.col("tok") != "")

    def mg(batches):
        counts: dict[str, int] = {}
        for pdf in batches:
            for tok, c in pdf["tok"].value_counts().items():
                counts[tok] = counts.get(tok, 0) + int(c)
            over = len(counts) - counters
            if over > 0:
                vals = np.fromiter(
                    counts.values(), dtype=np.int64, count=len(counts)
                )
                d = int(np.partition(vals, over - 1)[over - 1])
                counts = {t: v - d for t, v in counts.items() if v > d}
        yield pd.DataFrame({"tok": list(counts)})

    cand = tokens.mapInPandas(mg, "tok string").distinct()
    n_tok = tokens.agg(F.count("*").alias("__n_tokens"))
    top = (
        tokens.join(F.broadcast(cand), "tok")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(top_n)
    )
    return top.crossJoin(F.broadcast(n_tok)).select(
        F.col("tok").alias("token"),
        F.col("cnt"),
        _fixed6(F.col("cnt") / F.col("__n_tokens")).alias("share"),
        (F.col("cnt") * (counters + 1) > F.col("__n_tokens")).alias(
            "exact_guaranteed"
        ),
    )


def ngram_diversity(
    df,
    text_col: str = "text",
    group_col: str = "source",
    ns: tuple[int, ...] = (1, 2, 3),
):
    """Distinct-n corpus diversity (Li et al., NAACL 2016's
    "distinct" metric, reported per corpus slice): for each group and
    each n in `ns`, the total n-gram occurrence count, the distinct
    n-gram count, and their ratio — LOW ratios flag templated or
    repetitive sources (the slice-level complement of the per-doc
    Gopher repetition filters; the standard diversity row in a
    training-data datasheet).

    Plan: ONE corpus pass explodes every order as (n, gram) structs
    from the shared shingle chain; totals are plain map-side-
    combinable counts, and distincts collapse (group, n, gram) FIRST,
    then count — the unpivot + distinct-value-collapse shape
    (`profile.py` lesson: never multi-`count(DISTINCT)` in one agg —
    Expand replicates the corpus and string buffers force
    SortAggregate). The distinct shuffle carries the gram vocabulary
    once (partial-deduped map-side); at 100 TB swap the exact
    distinct for an HLL sketch per (group, n) if ±2% suffices.

    Output per group: ``total_{n}``, ``distinct_{n}``,
    ``ratio_{n}`` (fixed6, 0.0 when the group has no order-n grams).
    Empty/NULL docs contribute nothing (ascii_ws_tokens → []).
    """
    from aurora_mito_etl_spark.functions.numeric import fixed6

    # NB: the lambda must take exactly ONE argument — F.transform
    # treats a two-arg lambda as (element, index) and would feed the
    # array INDEX into a `n=n` default-capture (a silent wrong-n bug
    # this function shipped with for one commit).
    def _order(n: int) -> Column:
        return F.transform(
            shingles_arrow(F.col(text_col), n),
            lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")),
        )

    branches = [_order(n) for n in ns]
    grams = df.select(
        F.col(group_col), F.explode(F.concat(*branches)).alias("x")
    ).select(group_col, F.col("x.n").alias("n"), F.col("x.g").alias("g"))
    # r13 (guide §2.4): totals and distincts BOTH roll up from one
    # (group, n, gram) count aggregate — total = SUM(c), distinct =
    # COUNT(*) — instead of aggregating the exploded frame twice
    # (Catalyst re-executed the shingle explode for each reference;
    # zero exchange reuse in the final adaptive plan) and re-joining
    # per-(group, n) frames. The rollup also subsumes the r11
    # NULL-SAFE join lesson: a NULL group flows through both groupBys
    # (no join to drop it), matching the oracle's UNION-ALL shape.
    cg = grams.groupBy(group_col, "n", "g").agg(F.count("*").alias("c"))
    per = cg.groupBy(group_col, "n").agg(
        F.sum("c").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_distinct"),
    )
    zero = F.lit(0).cast("long")
    cols = []
    for n in ns:
        t = F.max(F.when(F.col("n") == n, F.col("total"))).alias("__t")
        d = F.max(F.when(F.col("n") == n, F.col("n_distinct"))).alias("__d")
        cols.append((n, t, d))
    agg_exprs = []
    for n, t, d in cols:
        agg_exprs.append(F.coalesce(t, zero).alias(f"total_{n}"))
        agg_exprs.append(F.coalesce(d, zero).alias(f"distinct_{n}"))
    out = per.groupBy(group_col).agg(*agg_exprs)
    for n in ns:
        out = out.withColumn(
            f"ratio_{n}",
            F.when(
                F.col(f"total_{n}") > 0,
                fixed6(
                    F.col(f"distinct_{n}").cast("double")
                    / F.col(f"total_{n}").cast("double")
                ),
            ).otherwise(F.lit(0.0)),
        )
    return out


def line_language_report(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document language-consistency report from per-LINE lang-id
    — the cleaning signal document-level language ID hides: a doc
    that is 80% English with German boilerplate lines classifies
    'en' whole-doc, but its mixed lines poison monolingual training
    slices (CCNet does its lang-id per paragraph for exactly this
    reason).

    Each non-blank line (split on newline; a line is blank when it
    holds nothing but ASCII whitespace — the explicit house class,
    not bare trim, which only strips spaces and would count a
    tab-only line as content) gets the
    shared :func:`lang_id` arg-max, then per doc: line count,
    distinct predicted languages ('und' counts as one), the dominant
    language (most lines; ties → count desc, code asc) and its
    fraction (fixed6), and an ``is_mixed`` flag.

    Plan: one explode + one (doc, lang) count whose windows run at
    DOC grain over at most n_languages rows per doc — skew bounded by
    the language panel, never by corpus size. Docs with no non-blank
    lines are absent.
    """
    from pyspark.sql import Window

    from aurora_mito_etl_spark.functions.numeric import fixed6

    lines = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("line"),
    ).where(
        F.trim(F.regexp_replace(F.col("line"), r"[ \t\x0b\f\r]+", " ")) != ""
    )
    cnt = (
        lines.groupBy(id_col, lang_id(F.col("line")).alias("lg"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.partitionBy(id_col)
    wr = Window.partitionBy(id_col).orderBy(
        F.col("c").desc(), F.col("lg").asc()
    )
    return (
        cnt.select(
            F.col(id_col),
            "lg",
            "c",
            F.sum("c").over(w).cast("long").alias("tot"),
            F.count("*").over(w).cast("long").alias("nl"),
            F.row_number().over(wr).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select(
            F.col(id_col),
            F.col("tot").alias("n_lines"),
            F.col("nl").alias("n_langs"),
            F.col("lg").alias("dominant_lang"),
            fixed6(
                F.col("c").cast("double") / F.col("tot").cast("double")
            ).alias("dominant_frac"),
            (F.col("nl") > 1).alias("is_mixed"),
        )
    )


def source_ngram_overlap(
    df,
    text_col: str = "text",
    group_col: str = "source",
    n: int = 3,
):
    """Pairwise n-gram overlap between corpus slices: for every
    unordered pair of groups (source_a < source_b) the distinct
    n-gram set sizes, the shared-gram count, Jaccard similarity and
    both directional containments — the cross-source contamination
    matrix of a training-data datasheet ("how much of slice A's
    content also appears in slice B"); the slice-level complement of
    the per-document dedup tiers (reference scope: the corpus-level
    report family around finalize_realease.py's release summaries).

    Plan: one corpus pass explodes n-grams (Arrow-batched shingles);
    (group, gram) collapses FIRST (map-side-combined distinct), so
    the per-gram fan-in downstream is bounded by the number of
    groups, never by occurrence counts. Pair generation is
    expression-only: the sorted distinct group set per gram
    (collect_set, <= n_groups elements) double-posexplodes into
    ordered (i < j) pairs — ONE shuffle keyed on the gram, no
    self-join re-shuffle of the gram table, and stop-gram skew is
    capped at n_groups^2 pair rows per gram. Group sizes ride back in
    via two broadcast joins of the n_groups-row cardinality table.
    At 100 TB the distinct shuffle carries the gram vocabulary once;
    if exact distincts outgrow memory, pre-hash grams to 64 bits (the
    winnowing trick) — set semantics survive hashing.

    Output: ``source_a, source_b, grams_a, grams_b, shared, jaccard,
    containment_a, containment_b`` (fixed6 ratios); pairs with no
    shared gram are omitted (both engines agree by construction).
    Divisions are exact-integer-to-double (IEEE-identical across
    engines) and fixed6-gridded before any hash compare.
    """
    grams = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(shingles_arrow(F.col(text_col), n)).alias("g"),
        )
        .distinct()
    )
    per = grams.groupBy("grp").agg(F.count("*").cast("long").alias("n_grams"))
    sets = grams.groupBy("g").agg(F.sort_array(F.collect_set("grp")).alias("ss"))
    pairs = (
        sets.select(F.posexplode("ss").alias("i", "a"), F.col("ss"))
        .select("i", "a", F.posexplode("ss").alias("j", "b"))
        .where(F.col("i") < F.col("j"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("shared"))
    )
    pa = per.select(F.col("grp").alias("a"), F.col("n_grams").alias("grams_a"))
    pb = per.select(F.col("grp").alias("b"), F.col("n_grams").alias("grams_b"))
    sh = F.col("shared").cast("double")
    return (
        pairs.join(F.broadcast(pa), "a")
        .join(F.broadcast(pb), "b")
        .select(
            F.col("a").alias("source_a"),
            F.col("b").alias("source_b"),
            "grams_a",
            "grams_b",
            "shared",
            _fixed6(
                sh
                / (F.col("grams_a") + F.col("grams_b") - F.col("shared")).cast(
                    "double"
                )
            ).alias("jaccard"),
            _fixed6(sh / F.col("grams_a").cast("double")).alias("containment_a"),
            _fixed6(sh / F.col("grams_b").cast("double")).alias("containment_b"),
        )
    )


def char_entropy_report(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document character-distribution Shannon entropy + alphabet
    size — the gibberish/encoding-damage signal at a grain the token
    statistics can't see: mojibake, base64 blobs, and key-mash runs
    have near-token-shaped lengths but collapsed (or inflated) char
    entropy (CCNet practice pairs it with the LM perplexity gate).

    Portable math is the docs_source_entropy convention: each p·ln(p)
    contribution fixed6-rounded, summed exactly in DECIMAL, negated
    once. Characters are Unicode code points (Spark substring and
    DuckDB substring agree); no case-mapping or trimming touches the
    text, so the Unicode-case contract is not in play. One explode at
    total-character grain (the corpus-linear cost every char-level
    statistic pays), then two map-side-combinable aggregations at
    (doc, char) and (doc); skew is bounded by document length.

    Contract: one row per document; NULL/empty text yields NULL
    entropy and 0 counted chars (the explode_outer sentinel row, not
    row loss). Spark's sequence(1, 0) DESCENDS ([1, 0]) where
    DuckDB's generate_series(1, 0) is empty — the length > 0 guard
    below is load-bearing.

    Plan shape (r13, guide §2.4): ONE corpus pass. The earlier
    join-back form referenced the exploded (doc, ch) aggregate three
    times (totals, contributions, spine re-join) and Catalyst
    re-executed the explode subtree for each — 3 Generate passes and
    6 Exchanges in the physical plan, none reused. Now per-doc
    totals ride a window partitioned by `id_col` (per-task frame
    bounded by the document's ALPHABET — distinct code points, not
    characters — so no mega-group risk at any corpus scale),
    `explode_outer` keeps empty/NULL docs as a (doc, NULL) sentinel
    instead of a spine re-join, and one final per-doc aggregation
    emits the row. Values unchanged: same n per doc, same fixed6
    contributions, and the DECIMAL sum is exact so its order never
    mattered; the p division is guarded by ch IS NOT NULL, which
    implies n > 0.
    """
    from pyspark.sql import Window

    from ..functions.numeric import dec, dec_to_double, fixed6

    chars = df.select(
        F.col(id_col),
        F.explode_outer(
            F.when(
                F.col(text_col).isNotNull() & (F.length(text_col) > 0),
                F.expr(
                    f"transform(sequence(1, length({text_col})),"
                    f" i -> substring({text_col}, i, 1))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("ch"),
    )
    cc = chars.groupBy(id_col, "ch").agg(F.count("*").alias("c"))
    w = Window.partitionBy(id_col)
    cc2 = cc.select(
        F.col(id_col),
        "ch",
        "c",
        F.sum(F.when(F.col("ch").isNotNull(), F.col("c")).otherwise(F.lit(0)))
        .over(w)
        .alias("n"),
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    per = cc2.select(
        F.col(id_col),
        "n",
        "ch",
        F.when(F.col("ch").isNotNull(), fixed6(p * F.log(p))).alias("f6"),
    )
    return per.groupBy(id_col).agg(
        F.max("n").cast("long").alias("n_chars_counted"),
        F.count("ch").cast("long").alias("n_distinct_chars"),
        (-dec_to_double(F.sum(dec(F.col("f6"))))).alias("char_entropy"),
    )
