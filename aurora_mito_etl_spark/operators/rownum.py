"""Contiguous ids and exact running sums without a global sort.

`row_number() OVER (ORDER BY key)` and `SUM(w) OVER (ORDER BY key)`
are the textbook forms, and on a cluster each is a single-partition
sort: every row shuffles to ONE task. The scalable shape is the
two-phase partition-offset pattern, written once here as
:func:`_partition_offset_scan` and shared by the three public scans:

1. range-partition + sort WITHIN partitions by the key (one shuffle,
   fully parallel — what a distributed ORDER BY does anyway), then a
   lazy localCheckpoint: the summary pass and the output pass must
   see the SAME partitioning (repartitionByRange samples its
   boundaries, and running it twice would also double the shuffle);
2. summarize each partition (one row per partition);
3. chain the ≤P summary rows into per-partition offsets in ONE
   bounded task (repartition(1) + mapInArrow; every contract guard
   raises there, at the caller's action, wrapped in Spark's
   PythonException with the original message);
4. re-attach the offsets with a BROADCAST join on a
   spark_partition_id() column computed in a Project directly over
   the checkpoint (a broadcast hash join streams the big side, so row
   order and partitioning are preserved), and add each row's
   within-partition position in a mapInArrow stage that appends its
   columns to the incoming Arrow batch.

No eager job, no driver collect, no single-partition stage over data
rows, and the input subtree executes once. Every stage that reads data
rows works on Arrow batches, and so does the carry: pass-through
columns are never converted, so a NaN double stays NaN and NULL stays
NULL (a pandas round-trip writes NaN back as NULL). Output is
bit-identical to the window form whenever the key order is total —
duplicates raise "duplicate" at the action (NULL equals NULL and NaN
equals NaN, the classes Spark's sort groups together) — which keeps
every scan DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Helper column names used to carry partition ids / offsets through
# the broadcast re-join; dropped before the operator returns rows.
_PID = "__ps_pid"
_OFFP = "__ps_p"
_OFF = "__ps_off"
_RISKY = "__ps_risky"


def _adjacent_equal(keys):
    """eq[i] = row i+1 has the same composite key as row i, over
    equal-length Arrow arrays. NULL equals NULL (and no value), NaN
    equals NaN: the key classes of Spark's sort order."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    eq = np.ones(max(len(keys[0]) - 1, 0), dtype=bool)
    for col in keys:
        a, b = col.slice(1), col.slice(0, len(col) - 1)
        same = pc.fill_null(pc.equal(a, b), False).to_numpy(zero_copy_only=False)
        null = col.is_null().to_numpy(zero_copy_only=False)
        same = same | (null[1:] & null[:-1])
        if pa.types.is_floating(col.type):
            nan = pc.fill_null(pc.is_nan(col), False).to_numpy(zero_copy_only=False)
            same = same | (nan[1:] & nan[:-1])
        eq &= same
    return eq


def _partition_offset_scan(
    df: DataFrame,
    func: str,
    *,
    sort_exprs: list,
    keys: list[str],
    duplicate_error: str,
    summarize,
    chain,
    off_fields: list,
    start,
    out_fields: list,
) -> DataFrame:
    """The partition-offset skeleton (module docstring, steps 1-4).

    `summarize(ranged)` builds the per-partition summary frame (one
    row per partition, partition id in column `p`). `chain(summ)`
    gets the summary rows as dicts sorted by `p` (``Table.to_pylist``:
    a NULL is None and a NaN stays NaN) and returns the offset rows
    `(p, *offsets)`, shaped by `off_fields`.
    `start(pid, offsets)` is called once per non-empty partition with
    that partition's offsets (None when `chain` emitted no row for it)
    and returns `step(batch)`, which maps each data RecordBatch, in
    order, to the Arrow arrays of `out_fields`. Adjacent rows with an
    equal `keys` composite raise `duplicate_error`.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    clash = {_PID, _OFFP, _OFF, _RISKY} & set(df.columns)
    if clash:
        raise ValueError(f"{func}: input columns {sorted(clash)} are reserved")
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        df.repartitionByRange(parts, *sort_exprs)
        .sortWithinPartitions(*sort_exprs)
        .localCheckpoint(eager=False)
    )

    off_schema = T.StructType([T.StructField(_OFFP, T.LongType(), False)] + off_fields)
    off_arrow = to_arrow_schema(off_schema)

    def carry(batches):
        rows = [b for b in batches if b.num_rows]
        summ = pa.Table.from_batches(rows).sort_by("p").to_pylist() if rows else []
        recs = chain(summ) if summ else []
        if recs:
            yield pa.RecordBatch.from_pylist(
                [dict(zip(off_arrow.names, r)) for r in recs], schema=off_arrow
            )

    offsets = summarize(ranged).repartition(1).mapInArrow(carry, off_schema)
    # A separate Project keeps the nondeterministic expression out of
    # the join condition (Catalyst only allows nondeterminism in
    # Project/Filter/Aggregate/Window).
    joined = ranged.withColumn(_PID, F.spark_partition_id()).join(
        F.broadcast(offsets), F.col(_PID) == F.col(_OFFP), "left"
    )
    n_in = len(df.columns)
    off_names = [f.name for f in off_fields]
    head_cols = [_PID, _OFFP, *off_names]
    names = df.columns + [f.name for f in out_fields]

    def add_offsets(batches):
        step = prev = None
        for batch in batches:
            if not batch.num_rows:
                continue
            if step is None:
                head = batch.slice(0, 1).select(head_cols).to_pylist()[0]
                off = tuple(head[c] for c in off_names)
                step = start(head[_PID], None if head[_OFFP] is None else off)
            data = batch.select(list(range(n_in)))
            # range partitioning co-locates equal keys and each
            # partition is sorted, so any duplicate is adjacent —
            # within a batch or across the seam with the previous one
            key = [data.column(k) for k in keys]
            if prev is not None:
                key = [pa.concat_arrays([p, k]) for p, k in zip(prev, key)]
            if _adjacent_equal(key).any():
                raise ValueError(f"{func}: {duplicate_error}")
            prev = [k.slice(len(k) - 1) for k in key]
            yield pa.RecordBatch.from_arrays(data.columns + step(data), names=names)

    return joined.mapInArrow(add_offsets, T.StructType(df.schema.fields + out_fields))


def assign_contiguous_ids(
    df: DataFrame,
    order_col,
    out_col: str = "seq",
    nulls_last: bool = False,
) -> DataFrame:
    """Add `out_col` = dense 0-based rank of `order_col` — a single
    column name or a sequence of them, ordered lexicographically; the
    composite key must be unique (ties would make the assignment
    partition-dependent).

    `nulls_last=False` (the default) rejects NULLs in any order column:
    Spark's bare ascending sorts NULL first while a DuckDB oracle's
    row_number() sorts them last, so the assignment would be
    engine-dependent. `nulls_last=True` sorts NULLS LAST explicitly on
    every order column — the convention both engines share — so NULL
    keys become legal (the composite must still be total; a unique
    trailing tie-break column is the usual way).

    Summary: a per-partition count aggregate (rows, rows with a NULL
    key); carry: exclusive prefix of the counts; output: offset +
    local position. Guards (NULL keys without nulls_last, duplicate
    keys) raise loudly at the action.
    """
    import numpy as np
    import pyarrow as pa

    cols = [order_col] if isinstance(order_col, str) else list(order_col)
    any_null = None
    for c in cols:
        cond = F.col(c).isNull()
        any_null = cond if any_null is None else (any_null | cond)

    def counts(ranged):
        return (
            ranged.select(F.spark_partition_id().alias("p"), *cols)
            .groupBy("p")
            .agg(
                F.count("*").alias("n"),
                F.count(F.when(any_null, 1)).alias("n_null"),
            )
        )

    def chain(summ):
        # Contract guard (free in the count pass): without the
        # explicit NULLS LAST ordering, NULL keys would sort NULLS
        # FIRST in Spark but NULLS LAST in a DuckDB oracle's
        # row_number() — fail fast instead of silently diverging.
        n_null = sum(r["n_null"] for r in summ)
        if n_null and not nulls_last:
            raise ValueError(
                f"assign_contiguous_ids: order columns {cols!r} have "
                f"{n_null} NULL values; pass nulls_last=True for the "
                "portable NULLS LAST ordering"
            )
        recs, acc = [], 0
        for r in summ:
            recs.append((r["p"], acc))
            acc += r["n"]
        return recs

    def start(pid, off):
        nxt = off[0] if off else 0

        def step(batch):
            nonlocal nxt
            ids = np.arange(nxt, nxt + batch.num_rows, dtype=np.int64)
            nxt += batch.num_rows
            return [pa.array(ids)]

        return step

    return _partition_offset_scan(
        df,
        "assign_contiguous_ids",
        sort_exprs=[
            F.asc_nulls_last(c) if nulls_last else F.col(c).asc() for c in cols
        ],
        keys=cols,
        duplicate_error=f"order columns {cols!r} have duplicate values; the "
        "assignment would be partition-dependent",
        summarize=counts,
        chain=chain,
        off_fields=[T.StructField(_OFF, T.LongType(), False)],
        start=start,
        out_fields=[T.StructField(out_col, T.LongType(), False)],
    )


def prefix_sum(
    df: DataFrame,
    order_col: str,
    weight_col: str,
    out_col: str = "cum",
) -> DataFrame:
    """Add `out_col` = exact running SUM of `weight_col` (a BIGINT)
    over ascending `order_col` — the distributed prefix sum behind
    ECDFs and exact rank selection; the running-total sibling of
    :func:`assign_contiguous_ids` on the same partition-offset scan.

    Summary: per-partition count + exact decimal weight totals (counts
    merge by addition, so the summary is MERGEABLE across shards);
    carry: exclusive prefix of the totals; output: offset + the
    partition's running total. Everything is int64-exact, so the
    output is bit-identical to the window form (and to a DuckDB
    cumulative window) whenever `order_col` is unique and non-NULL —
    both enforced loudly, since duplicates would make the running
    total partition-dependent and NULLs order differently across
    engines. Weights may be any BIGINT sign: the summary also carries
    per-partition positive/negative partial sums, which bound every
    intra-partition running prefix, so a mid-stream int64 wrap (a
    prefix excursion beyond int64 even when the grand total fits) is
    rejected loudly rather than wrapping in the int64 cumsum.
    """
    import numpy as np
    import pyarrow as pa

    def totals(ranged):
        w = F.col(weight_col)
        return (
            ranged.select(F.spark_partition_id().alias("p"), F.col(order_col), w)
            .groupBy("p")
            .agg(
                F.count("*").alias("n"),
                F.count(order_col).alias("nn"),
                F.count(F.when(w.isNull(), 1)).alias("wnull"),
                F.sum(w.cast("decimal(38,0)")).alias("t"),
                # signed partial sums bound EVERY intra-partition
                # running prefix (offset + tn <= prefix <= offset +
                # tp), so the int64 guard covers mixed-sign weights
                # too — the grand total alone would miss a mid-stream
                # wrap.
                F.sum(
                    F.when(w > 0, w).otherwise(F.lit(0)).cast("decimal(38,0)")
                ).alias("tp"),
                F.sum(
                    F.when(w < 0, w).otherwise(F.lit(0)).cast("decimal(38,0)")
                ).alias("tn"),
            )
        )

    def chain(summ):
        n_null = sum(r["n"] - r["nn"] for r in summ)
        if n_null:
            raise ValueError(
                f"prefix_sum: order_col {order_col!r} has {n_null} NULL "
                "values; the running total would be engine-dependent"
            )
        if sum(r["wnull"] for r in summ):
            raise ValueError(
                f"prefix_sum: weight_col {weight_col!r} has NULL values"
            )
        recs = [
            (r["p"], int(r["t"]), int(r["tn"] or 0), int(r["tp"] or 0))
            for r in summ
            if r["t"] is not None
        ]
        grand = sum(t for _, t, _, _ in recs)
        if not (-(2**63) <= grand <= 2**63 - 1):
            raise ValueError(f"prefix_sum overflow: total {grand} leaves int64")
        # Partitions whose CONSERVATIVE prefix envelope (offset + all-
        # negatives .. offset + all-positives) leaves int64 are not
        # necessarily wrong — an interleaved stream can stay bounded —
        # so they take an exact python-int cumsum that raises only on
        # a REAL excursion.
        out, acc = [], 0
        for p, t, tn, tp in sorted(recs):
            risky = not (-(2**63) <= acc + tn and acc + tp <= 2**63 - 1)
            out.append((p, acc, risky))
            acc += t
        return out

    def start(pid, off):
        running, risky = off if off else (0, False)

        def step(batch):
            nonlocal running
            w = batch.column(weight_col).to_numpy(zero_copy_only=False)
            if risky:
                csum = np.cumsum(w.astype(object)) + running
                mn, mx = int(csum.min()), int(csum.max())
                if mn < -(2**63) or mx > 2**63 - 1:
                    raise ValueError(
                        f"prefix_sum overflow: running prefix reaches "
                        f"[{mn}, {mx}], outside int64"
                    )
            else:
                csum = np.cumsum(w.astype(np.int64)) + running
            running = int(csum[-1])
            return [pa.array(csum.astype(np.int64))]

        return step

    return _partition_offset_scan(
        df,
        "prefix_sum",
        sort_exprs=[F.col(order_col).asc()],
        keys=[order_col],
        duplicate_error=f"order_col {order_col!r} has duplicate values; the "
        "running total would be partition-dependent",
        summarize=totals,
        chain=chain,
        off_fields=[
            T.StructField(_OFF, T.LongType(), False),
            T.StructField(_RISKY, T.BooleanType(), False),
        ],
        start=start,
        out_fields=[T.StructField(out_col, T.LongType(), False)],
    )


def _runs(prev_g, g):
    """Start index of each maximal same-group run of the sorted Arrow
    array `g`, and whether the first run continues `prev_g` (the
    previous batch's last group, a 1-row array, or None)."""
    import numpy as np
    import pyarrow as pa

    if prev_g is None:
        eq, cont = _adjacent_equal([g]), False
    else:
        eq = _adjacent_equal([pa.concat_arrays([prev_g, g])])
        eq, cont = eq[1:], bool(eq[0])
    return np.flatnonzero(np.concatenate([[True], ~eq])), cont


def grouped_prefix_sum(
    df: DataFrame,
    group_col: str,
    order_col: str,
    weight_col: str | list[str],
    out_col: str | list[str] = "cum",
    pid_col: str | None = None,
) -> DataFrame:
    """Add `out_col` = exact running SUM of `weight_col` over ascending
    `order_col` WITHIN each `group_col` group — the grouped sibling of
    :func:`prefix_sum`, for the mega-group regime where
    `SUM(w) OVER (PARTITION BY g ORDER BY v)` degenerates: a window
    partitioned by group frames one group's entire value domain in ONE
    task, so a single dominant group (near-unique continuous values)
    recreates the global-window bottleneck.

    On the partition-offset scan, ranged by (group, order): groups are
    CONTIGUOUS across the partition sequence, and a mega-group simply
    spans several partitions. The summary (mapInArrow, one row per
    partition) reports only each partition's FIRST and LAST group with
    their in-partition weight totals plus guard counters — interior
    groups never cross a partition boundary, so the carry needs
    nothing about them. The offset a partition's first group inherits
    is the accumulated total of that same group across earlier
    partitions; every other group in the partition starts at zero by
    construction. The output stage adds a per-group running total,
    chaining batch seams within the task.

    Contracts (all enforced loudly, at the ACTION): `order_col`
    non-NULL and unique PER GROUP (duplicates would make the running
    total partition-dependent; NULLs order differently across
    engines); `weight_col` non-NULL and NON-NEGATIVE — the sign
    restriction keeps the int64-exactness proof one-sided (every
    prefix is bounded above by its group's grand total, which the
    carry chain validates against int64, and below by 0);
    :func:`prefix_sum` remains the general-sign ungrouped twin. A NULL
    group key is a real group (the NULL-GROUP rule) — it range-sorts
    first on the Spark side, which is invisible downstream because the
    output is per-row.

    Output is bit-identical to the partitioned-window form (and to a
    DuckDB `SUM() OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED
    PRECEDING)` window) under the contracts above. When `pid_col` is
    given, each row also carries its range-partition id — downstream
    consumers (grouped quantile selection) key skew-free joins on
    (group, pid) so a mega-group stays spread over its partitions.

    `weight_col`/`out_col` accept LISTS of equal length: every
    weight's running total is computed in the SAME range pass, so
    callers needing several cumulatives over one (group, order) key
    (docs_heaps_fit's token and new-type sums) pay the range shuffle
    once. All contracts and guards apply per weight column; each
    weight's running total is computed independently, exactly as its
    single-weight call would.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    wcols = [weight_col] if isinstance(weight_col, str) else list(weight_col)
    ocols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(wcols) != len(ocols) or not wcols:
        raise ValueError(
            f"weight_col/out_col must be non-empty and equal-length, "
            f"got {wcols!r} / {ocols!r}"
        )
    nw = len(wcols)

    g_type = df.schema[group_col].dataType
    sum_schema = T.StructType(
        [
            T.StructField("p", T.LongType(), False),
            T.StructField("n_rows", T.LongType(), False),
            T.StructField("n_null_order", T.LongType(), False),
            T.StructField("n_null_w", T.LongType(), False),
            T.StructField("n_neg_w", T.LongType(), False),
            T.StructField("n_groups", T.LongType(), False),
            # NULL group vs no-rows disambiguated by n_rows == 0
            T.StructField("first_g", g_type, True),
            T.StructField("first_t", T.ArrayType(T.LongType(), False), True),
            T.StructField("last_g", g_type, True),
            T.StructField("last_t", T.ArrayType(T.LongType(), False), True),
        ]
    )
    sum_arrow = to_arrow_schema(sum_schema)

    def summarize(batches):
        from pyspark import TaskContext

        n_rows = n_null_order = n_null_w = n_neg_w = groups = 0
        first_g = first_t = last_g = last_t = prev_g = None
        max_t = 0  # largest per-group in-partition total seen (any weight)
        for batch in batches:
            if not batch.num_rows:
                continue
            n_rows += batch.num_rows
            n_null_order += batch.column(order_col).null_count
            ws = []
            for wc in wcols:
                w = batch.column(wc)
                n_null_w += w.null_count
                n_neg_w += pc.sum(pc.less(w, 0)).as_py() or 0
                w = pc.fill_null(w, 0).to_numpy(zero_copy_only=False)
                # int64 run sums are exact while sum |w| < 2^62; python
                # ints only on the rare huge-weight batch
                big = float(np.abs(w.astype(np.float64)).sum()) >= 2**62
                ws.append(w.astype(object if big else np.int64))
            g = batch.column(group_col)
            starts, cont = _runs(prev_g, g)
            tots = [np.add.reduceat(w, starts) for w in ws]
            for j, s in enumerate(starts.tolist()):
                rt = [int(t[j]) for t in tots]
                if j == 0 and cont:  # the run continues across the seam
                    last_t = [a + b for a, b in zip(last_t, rt)]
                    if groups == 1:
                        first_t = list(last_t)
                else:
                    groups += 1
                    if groups == 1:
                        first_g, first_t = g[s].as_py(), rt
                    last_g, last_t = g[s].as_py(), rt
                max_t = max(max_t, *last_t)
            prev_g = g.slice(len(g) - 1)
        # Raise HERE, in the worker: a summary row whose totals left
        # int64 cannot even serialize through Arrow; the explicit
        # raise keeps the loud-overflow contract under every partition
        # arrangement.
        if max_t > 2**62:
            raise ValueError(
                "grouped_prefix_sum overflow: a group's in-partition "
                "total exceeds 2^62"
            )
        row = {
            "p": TaskContext.get().partitionId(),
            "n_rows": n_rows,
            "n_null_order": n_null_order,
            "n_null_w": n_null_w,
            "n_neg_w": n_neg_w,
            "n_groups": groups,
            "first_g": first_g,
            "first_t": first_t,
            "last_g": last_g,
            "last_t": last_t,
        }
        yield pa.RecordBatch.from_pylist([row], schema=sum_arrow)

    def _same_group(a, b) -> bool:  # NULL == NULL, NaN == NaN: Spark's sort
        return (a is None) == (b is None) and (a is None or a == b or a != a and b != b)

    def chain(summ):
        if sum(r["n_null_order"] for r in summ):
            raise ValueError(
                f"grouped_prefix_sum: order_col {order_col!r} has NULL "
                "values; the running total would be engine-dependent"
            )
        if sum(r["n_null_w"] for r in summ):
            raise ValueError(
                f"grouped_prefix_sum: weight_col {wcols!r} has NULL values"
            )
        if sum(r["n_neg_w"] for r in summ):
            raise ValueError(
                f"grouped_prefix_sum: weight_col {wcols!r} has negative "
                "values; use prefix_sum (ungrouped) for general-sign weights"
            )
        out = []
        carry_g, carry_t, have_carry = None, [0] * nw, False
        for r in summ:
            if not r["n_rows"]:
                continue
            off = [0] * nw
            if have_carry and _same_group(r["first_g"], carry_g):
                off = list(carry_t)
                out.append((r["p"], off))
            # the next partition can only continue THIS partition's
            # last group; its accumulated total includes the inherited
            # offset exactly when first == last (a single spanning
            # group).
            if r["n_groups"] == 1:
                carry_t = [o + t for o, t in zip(off, r["last_t"])]
            else:
                # the spanning FIRST group terminates inside this
                # partition: its final running total (off + first_t)
                # never reaches carry_t, but the worker adds the same
                # offset with wrapping int64 arithmetic — validate it
                # here too.
                for o, t in zip(off, r["first_t"]):
                    if o and o + t > 2**63 - 1:
                        raise ValueError(
                            "grouped_prefix_sum overflow: a group's running "
                            f"total reaches {o + t}, outside int64"
                        )
                carry_t = list(r["last_t"])
            carry_g, have_carry = r["last_g"], True
            if max(carry_t) > 2**63 - 1:
                raise ValueError(
                    f"grouped_prefix_sum overflow: a group's running total "
                    f"reaches {max(carry_t)}, outside int64"
                )
        return out

    def start(pid, off):
        carry = list(off[0]) if off else [0] * nw
        prev_g = None

        def step(batch):
            nonlocal carry, prev_g
            g = batch.column(group_col)
            starts, cont = _runs(prev_g, g)
            # carry flows into the batch's FIRST run only: the
            # partition offset (first batch) or the previous batch's
            # last-group running total (seam continuation)
            lens = np.diff(np.append(starts, len(g)))
            csums = []
            for i, wc in enumerate(wcols):
                # int64 BEFORE the cumsum (a narrower weight would wrap
                # inside it). The batch-wide cumsum may wrap past int64
                # when several groups add up, but each run's own
                # difference is exact mod 2^64 and fits: a group's
                # running total is validated against int64 upstream.
                w = batch.column(wc).to_numpy(zero_copy_only=False).astype(np.int64)
                cs = np.cumsum(w)
                cs -= np.repeat(cs[starts] - w[starts], lens)
                if prev_g is None or cont:
                    cs[: lens[0]] += carry[i]
                csums.append(cs)
            carry = [int(cs[-1]) for cs in csums]
            prev_g = g.slice(len(g) - 1)
            cols = [pa.array(cs) for cs in csums]
            if pid_col is not None:
                cols.append(pa.array(np.full(len(g), pid, dtype=np.int64)))
            return cols

        return step

    extra = [T.StructField(oc, T.LongType(), False) for oc in ocols]
    if pid_col is not None:
        extra.append(T.StructField(pid_col, T.LongType(), False))
    return _partition_offset_scan(
        df,
        "grouped_prefix_sum",
        sort_exprs=[F.col(group_col).asc(), F.col(order_col).asc()],
        keys=[group_col, order_col],
        duplicate_error=f"({group_col!r}, {order_col!r}) has duplicate pairs; "
        "the running total would be partition-dependent",
        summarize=lambda ranged: ranged.mapInArrow(summarize, sum_schema),
        chain=chain,
        off_fields=[T.StructField(_OFF, T.ArrayType(T.LongType(), False), False)],
        start=start,
        out_fields=extra,
    )
