"""Per-ROUND bench floor folds (VERDICT r13 ask #1).

A single min-fold over every committed artifact can only improve by
construction — it proves wins but cannot show a regression. This
tool folds per-query minima PER ROUND
(from the artifact filenames: BENCH_r{N}.json and bench_full_r{N}*_*.json)
and prints, for each query, the floor in each requested round plus the
delta of the newest round vs the previous rounds' combined floor.

Usage:
    python tools/bench_fold.py            # all rounds, full table
    python tools/bench_fold.py 12 13 14   # only these rounds
    python tools/bench_fold.py --regressions 14   # queries whose r14
        floor is >15% above the min over all PRIOR rounds
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def artifact_round(path: str) -> int | None:
    name = os.path.basename(path)
    m = re.match(r"BENCH_r(\d+)(?:_c\d+)?\.json$", name)
    if m:
        return int(m.group(1))
    m = re.match(r"bench_full_r(\d+)[a-z]?_", name)
    if m:
        return int(m.group(1))
    m = re.match(r"bench_full_r(\d+)[a-z]?_?local\.json$", name)
    if m:
        return int(m.group(1))
    return None  # bench_full_latest.json etc. — round-ambiguous, skip


def load_queries(path: str) -> dict[str, float]:
    try:
        with open(path) as f:
            doc = json.load(f)
    except (OSError, ValueError):
        return {}
    prior = doc.get("queries") or (doc.get("parsed") or {}).get("queries") or {}
    return {
        q: float(s) for q, s in prior.items() if isinstance(s, (int, float))
    }


def per_round_folds() -> dict[int, dict[str, float]]:
    folds: dict[int, dict[str, float]] = {}
    for path in sorted(
        glob.glob(os.path.join(REPO, "BENCH_r*.json"))
        + glob.glob(os.path.join(REPO, "bench_full_*.json"))
    ):
        rnd = artifact_round(path)
        if rnd is None:
            continue
        qs = load_queries(path)
        if not qs:
            continue
        fold = folds.setdefault(rnd, {})
        for q, sec in qs.items():
            fold[q] = min(fold.get(q, sec), sec)
    return folds


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    regressions_mode = "--regressions" in sys.argv
    folds = per_round_folds()
    rounds = sorted(folds)
    if args:
        want = [int(a) for a in args]
        rounds = [r for r in rounds if r in want]
    if not rounds:
        print("no artifacts for requested rounds", file=sys.stderr)
        return 1

    newest = rounds[-1]
    prior_rounds = [r for r in sorted(folds) if r < newest]
    prior_fold: dict[str, float] = {}
    for r in prior_rounds:
        for q, sec in folds[r].items():
            prior_fold[q] = min(prior_fold.get(q, sec), sec)

    queries = sorted(
        set().union(*(folds[r].keys() for r in rounds))
    )
    header = ["query"] + [f"r{r}" for r in rounds] + [f"vs<r{newest}"]
    rows = []
    regressed = []
    for q in queries:
        vals = [folds[r].get(q) for r in rounds]
        new = folds[newest].get(q)
        prev = prior_fold.get(q)
        ratio = (new / prev) if (new is not None and prev) else None
        if ratio is not None and ratio > 1.15:
            regressed.append((q, prev, new, ratio))
        rows.append(
            [q]
            + [f"{v:.3f}" if v is not None else "-" for v in vals]
            + [f"{ratio:.2f}x" if ratio is not None else "-"]
        )

    if regressions_mode:
        print(
            f"queries whose r{newest} floor is >15% above the combined "
            f"floor of rounds {prior_rounds[0]}..{prior_rounds[-1]}:"
            if prior_rounds
            else "no prior rounds"
        )
        for q, prev, new, ratio in sorted(regressed, key=lambda t: -t[3]):
            print(f"  {q:45s} {prev:7.3f} -> {new:7.3f}  ({ratio:.2f}x)")
        print(f"{len(regressed)} regressed / {len(queries)} total")
        totals = {
            r: sum(folds[r].values()) for r in rounds
        }
        for r in rounds:
            print(f"r{r}: fold total {totals[r]:.1f}s over {len(folds[r])} queries")
        return 0

    widths = [max(len(h), max((len(row[i]) for row in rows), default=0)) for i, h in enumerate(header)]
    print("  ".join(h.ljust(w) for h, w in zip(header, widths)))
    for row in rows:
        print("  ".join(c.ljust(w) for c, w in zip(row, widths)))
    for r in rounds:
        print(f"r{r}: fold total {sum(folds[r].values()):.1f}s over {len(folds[r])} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
