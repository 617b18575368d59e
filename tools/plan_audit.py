"""Physical-plan audit over the whole query registry.

For every registered query, builds the DataFrame (analysis only — no
execution) and summarizes the formatted physical plan: number of
shuffles (Exchange), broadcasts, whole-stage-codegen spans, parquet
scans with/without pushed filters, and any pathological join
(CartesianProduct). The per-query table is the 100 TB posture at a
glance; a CartesianProduct anywhere is an error (exit 1).

Exception: queries in EXEC_ON_BUILD run their pipeline at
BUILD time by design (release_sink_smoke materializes a release dir
and reads it back to return verification rows), so "building the
DataFrame" is not analysis-only for them — they are skipped here.

BroadcastNestedLoopJoin is reported but not fatal: the registry's only
BNLJs are single-row aggregate cross-joins (corpus totals riding along
with a count), which are constant-size broadcasts at any SF.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
       python tools/plan_audit.py --save            # write plan_baseline.json
       python tools/plan_audit.py --check           # diff against baseline

`--save` snapshots each query's posture to tools/plan_baseline.json;
`--check` exits 1 if any query's exchanges/cartesians/python_stages
INCREASED vs the snapshot — the cross-round guard against silent plan
regressions (an extra shuffle passes every correctness gate but costs
real money at 100 TB). New queries (absent from the baseline) are
reported informationally, never fatal; re-run --save after intended
plan changes.
"""

from __future__ import annotations

import contextlib
import io
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


# Queries whose builder executes side effects (materialize + read-back
# smoke queries). plan_audit skips them unless explicitly requested.
EXEC_ON_BUILD = {"release_sink_smoke"}


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


import re


def _nodes(plan: str, name: str) -> set[str]:
    """Distinct node ids for `name` — the formatted plan repeats each
    node in the tree AND in the details section, so raw substring
    counts double-count; node ids are unique."""
    return set(re.findall(rf"\((\d+)\) {name}\b", plan))


def audit_one(plan: str) -> dict:
    return {
        "exchanges": len(_nodes(plan, "Exchange")),
        "broadcasts": len(_nodes(plan, "BroadcastExchange")),
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "scans": len(_nodes(plan, "Scan parquet")),
        "pushed_filter_scans": plan.count("PushedFilters: [")
        - plan.count("PushedFilters: []"),
        "cartesian": len(_nodes(plan, "CartesianProduct")),
        "bnlj": len(_nodes(plan, "BroadcastNestedLoopJoin")),
        "python_stages": sum(
            len(_nodes(plan, n))
            for n in (
                "ArrowEvalPython",
                "FlatMapGroupsInPandas",
                "FlatMapGroupsInArrow",
                "MapInPandas",
                "MapInArrow",
                "FlatMapGroupsInPandasWithState",
            )
        ),
    }


BASELINE = __file__.rsplit("/", 1)[0] + "/plan_baseline.json"
_REGRESSION_KEYS = ("exchanges", "cartesian", "python_stages")


def main() -> int:
    args = [a for a in sys.argv[1:]]
    save = "--save" in args
    check = "--check" in args
    args = [a for a in args if a not in ("--save", "--check")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    from aurora_mito_etl_spark.plans.queries import QUERIES
    from aurora_mito_etl_spark.session import get_spark

    spark = get_spark(app_name="plan-audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    # static audit: AQE wraps un-executed plans in AdaptiveSparkPlan
    # (isFinalPlan=false) which hides codegen ids; runtime behavior is
    # unchanged — every real session keeps AQE on (session.py).
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    rows = []
    n_cartesian = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        if name in EXEC_ON_BUILD and name not in only:
            continue  # building it would execute a release pipeline
        try:
            a = audit_one(formatted_plan(fn(spark, sf_dir)))
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {e}")
            return 1
        n_cartesian += a["cartesian"]
        rows.append({"query": name, **a})

    hdr = ["query", "exchanges", "broadcasts", "codegen_spans", "scans",
           "pushed_filter_scans", "cartesian", "bnlj", "python_stages"]
    w = max(len(r["query"]) for r in rows)
    print(" ".join(h.rjust(12) if h != "query" else h.ljust(w) for h in hdr))
    for r in sorted(rows, key=lambda r: (-r["exchanges"], r["query"])):
        print(
            r["query"].ljust(w)
            + " ".join(str(r[h]).rjust(12) for h in hdr[1:])
        )
    print(json.dumps({
        "n_queries": len(rows),
        "total_exchanges": sum(r["exchanges"] for r in rows),
        "cartesian_products": n_cartesian,
    }))
    spark.stop()

    rc = 1 if n_cartesian else 0
    if save:
        with open(BASELINE, "w") as fh:
            json.dump({r["query"]: {k: r[k] for k in _REGRESSION_KEYS}
                       for r in rows}, fh, indent=0, sort_keys=True)
        print(f"baseline saved: {len(rows)} queries -> {BASELINE}")
    if check:
        with open(BASELINE) as fh:
            base = json.load(fh)
        regressed, new = [], []
        for r in rows:
            b = base.get(r["query"])
            if b is None:
                new.append(r["query"])
                continue
            worse = {k: (b[k], r[k]) for k in _REGRESSION_KEYS if r[k] > b[k]}
            if worse:
                regressed.append((r["query"], worse))
        for q, worse in regressed:
            print(f"PLAN REGRESSION {q}: " + ", ".join(
                f"{k} {a}->{b}" for k, (a, b) in worse.items()))
        if new:
            print(f"not in baseline (run --save to adopt): {sorted(new)}")
        print(f"plan check: {len(regressed)} regressed, {len(new)} new")
        rc = rc or (1 if regressed else 0)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
