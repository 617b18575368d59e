"""Join operators (SURVEY.md §2.3 J1-J6).

The reference implements joins as external sort-merge over TSV
(`sort -k1,1 | join`, reference scripts/process_pubtator.sh:29-34,
scripts/merge_filter.sh:68-81). Here each shape is a one-liner whose
physical strategy Catalyst/AQE picks; we add explicit broadcast()
hints for dimension-sized sides so the plan is broadcast-hash even
before AQE statistics exist — at 100 TB the fact side never shuffles
for these.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def semi_join(df: DataFrame, keys: DataFrame, on: str | list[str]) -> DataFrame:
    """J2 — keep rows whose key appears in `keys`.

    Reference: key-prefix sort-merge trick, scripts/merge_filter.sh:68-81.
    """
    return df.join(F.broadcast(keys) if _small(keys) else keys, on, "left_semi")


def anti_join(df: DataFrame, done: DataFrame, on: str | list[str]) -> DataFrame:
    """J4 — drop rows whose key appears in `done` (resume semantics).

    Reference: done-set replay, scripts/run_gpt_filter.py:81-95,221-222.
    """
    return df.join(F.broadcast(done) if _small(done) else done, on, "left_anti")


def tag_semi_join_distinct(
    fact: DataFrame, tags: DataFrame, tag_col: str, out_col: str
) -> DataFrame:
    """J1 — PubTator ⋈ MeSH-tags shape: semi join on tag, distinct ids.

    Reference: scripts/process_pubtator.sh:29-34 (external sort +
    join -j1 + sort -u). The tag list is dimension-sized → broadcast;
    distinct() is a real semantic step there, kept here.
    """
    return (
        fact.join(F.broadcast(tags), fact[tag_col] == tags[tags.columns[0]], "left_semi")
        .select(out_col)
        .distinct()
    )


def lookup_join_two_tier(
    df: DataFrame,
    lookup: DataFrame,
    key: str,
    lookup_key: str,
    value: str,
    out_col: str,
    default: str | None = "",
) -> DataFrame:
    """J5/J6 — exact-match lookup, then case-insensitive fallback,
    then default.

    Reference intent at scripts/finalize_realease.py:507-512,686-698
    (the reference's lowercase tier has a latent bug — list instead of
    dict — we implement the *intended* case-insensitive fallback).
    Both tiers broadcast: the lookup is a curated dimension.
    """
    exact = F.broadcast(
        lookup.select(F.col(lookup_key).alias("__k"), F.col(value).alias("__v_exact"))
        # deterministic winner per key (dropDuplicates would pick an
        # arbitrary row, diverging run-to-run and from the oracle)
        .groupBy("__k")
        .agg(F.min("__v_exact").alias("__v_exact"))
    )
    lowered = F.broadcast(
        lookup.select(
            F.lower(F.col(lookup_key)).alias("__kl"), F.col(value).alias("__v_lower")
        )
        # deterministic winner per lowercased key
        .groupBy("__kl")
        .agg(F.min("__v_lower").alias("__v_lower"))
    )
    out = (
        df.join(exact, df[key] == exact["__k"], "left")
        .join(lowered, F.lower(df[key]) == lowered["__kl"], "left")
        .withColumn(
            out_col,
            F.coalesce(
                F.col("__v_exact"),
                F.col("__v_lower"),
                F.lit(default) if default is not None else F.lit(None),
            ),
        )
        .drop("__k", "__v_exact", "__kl", "__v_lower")
    )
    return out


def _small(df: DataFrame) -> bool:
    """Heuristic: treat explicitly-tiny plans as broadcastable.

    We can't know sizes without statistics; AQE converts to broadcast
    at runtime anyway. Returning False keeps the hint conservative.
    """
    return False


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    tolerance_s: int | None = None,
) -> DataFrame:
    """As-of join: each left row gets the latest right row with
    right_ts <= left_ts, per `on` key. Beyond-reference operator
    (SURVEY §2.3 notes it absent) — the standard shape for joining
    events to slowly-changing state in training pipelines.

    Plan: union both sides tagged, ONE window sort per key carries
    the last-seen right values forward (last_value ignorenulls), then
    keep left rows. Cost = one shuffle on the key + one sort — no
    range join, no per-row lookup; skew-safe under AQE.

    NULL keys follow SQL EQUALITY semantics: a NULL-key left row
    matches nothing (asof columns NULL) and a NULL-key right row is
    never matched — even though the window trick would otherwise
    co-partition all NULL keys into one matching group (Spark windows
    group NULLs). Found by tools/fuzz_gate.py events tier: DuckDB's
    ASOF JOIN `ON l.k = r.k` never matches NULL = NULL. NULL
    TIMESTAMPS follow comparison semantics the same way: a NULL-ts
    right row is never matched (`r.ts <= l.ts` is never true) and a
    NULL-ts left row matches nothing.

    Right-timestamp TIES resolve deterministically to the
    lexicographically-largest right struct (right_cols order), i.e.
    the largest leading right column among the tied rows — native
    engine ASOF joins leave this unspecified, so the oracle must
    replay the same rule explicitly.
    """
    # Carry ALL right payload columns as ONE struct: the struct is
    # non-null for every right row even when individual fields are
    # NULL, so F.last(ignorenulls) picks the whole latest row — never
    # a column mix of different right rows (a NULL field in the latest
    # row must NOT resurrect an older row's value for that field).
    lt = left.withColumn("__ts", F.col(left_ts)).withColumn("__side", F.lit(1))
    # NULL-key rights match nobody (SQL equality), and NULL-ts rights
    # match nobody either: `r.ts <= l.ts` is never true for NULL r.ts,
    # but the window's NULLS FIRST ordering would otherwise sort a
    # NULL-ts right row before everything and carry it into every
    # left row of the key (ADVICE r8).
    rt = (
        right.filter(F.col(on).isNotNull() & F.col(right_ts).isNotNull())
        .select(
            on,
            F.col(right_ts).alias("__ts"),
            F.struct(*[F.col(c).alias(c) for c in right_cols]).alias("__r"),
        )
        .withColumn("__side", F.lit(0))
    )
    lt = lt.withColumn("__r", F.lit(None).cast(rt.schema["__r"].dataType))
    for c in left.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    unioned = lt.unionByName(rt.select(*lt.columns))
    # right rows sort before left rows at the same timestamp, so a
    # right row with ts == left ts IS visible (<= semantics); the
    # struct (field-lexicographic) breaks same-timestamp ties
    # deterministically.
    # Explicit null ordering (CLAUDE.md): only LEFT rows can still
    # carry a NULL __ts, and NULLS FIRST is load-bearing for them —
    # sorting before every (non-NULL-ts) right row means they see no
    # carried state and match nothing, exactly the oracle's
    # `r.ts <= l.ts` semantics for NULL l.ts.
    w = (
        Window.partitionBy(on)
        .orderBy(
            F.col("__ts").asc_nulls_first(),
            F.col("__side").asc_nulls_first(),
            F.col("__r").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        *left.columns,
        "__ts",
        "__side",
        F.last("__r", ignorenulls=True).over(w).alias("__c"),
        F.last(F.when(F.col("__side") == 0, F.col("__ts")), ignorenulls=True)
        .over(w)
        .alias("__rts"),
    ).filter(F.col("__side") == 1)
    if tolerance_s is not None:
        # Native-precision tolerance: timestamp cols compare at
        # microsecond resolution (cast('long') would truncate to whole
        # seconds and admit rows up to 1 s past the tolerance).
        ts_type = dict(unioned.dtypes)["__ts"]
        if ts_type.startswith("timestamp"):
            gap_ok = (
                F.unix_micros(F.col("__ts")) - F.unix_micros(F.col("__rts"))
                <= tolerance_s * 1_000_000
            )
        else:
            gap_ok = F.col("__ts") - F.col("__rts") <= tolerance_s
        within = F.col("__rts").isNotNull() & gap_ok
        carried = carried.select(
            *left.columns,
            *[F.when(within, F.col("__c")[c]).alias(c) for c in right_cols],
        )
    else:
        carried = carried.select(
            *left.columns, *[F.col("__c")[c].alias(c) for c in right_cols]
        )
    return carried


def salt_skewed_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    salt_buckets: int = 8,
) -> DataFrame:
    """Manual key-salting for a skewed equi-join: the fact side gets a
    random-ish (hash-derived, deterministic) salt, the dim side is
    exploded ×salt_buckets, and the join key becomes (key, salt) —
    spreading one hot key over `salt_buckets` tasks.

    AQE skew-join splitting usually makes this unnecessary; provided
    for engines/joins AQE can't split (e.g. followed by a windowed
    agg that must co-partition) — SURVEY §4.
    """
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(*fact.columns), F.lit(salt_buckets))
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return salted_fact.join(salted_dim, [on, "__salt"]).drop("__salt")


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str | Column,
    lower: str | Column,
    upper: str | Column,
    how: str = "inner",
) -> DataFrame:
    """Range join: left rows matched to right rows whose
    [lower, upper) interval contains left_col. Beyond-reference
    operator (SURVEY §2.3 notes it absent); provided because training
    pipelines bucket by ranges constantly. Broadcast the interval side
    when it is a dimension (bin edges), else Spark falls back to
    sort-merge on the equality-free condition.
    """
    lc = F.col(left_col) if isinstance(left_col, str) else left_col
    lo = F.col(lower) if isinstance(lower, str) else lower
    hi = F.col(upper) if isinstance(upper, str) else upper
    return left.join(F.broadcast(right), (lc >= lo) & (lc < hi), how)
