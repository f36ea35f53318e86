"""Round-over-round bench comparison on the co-load-robust basis.

Compares two bench records (bench_last_full.json files, or any JSON
with the bench.py full-record schema) per query on BEST-OF-REPS — the
estimator least contaminated by host co-load (SCALE.md §auditing) —
and prints the calibration context of both sides so a reader can see
at a glance whether an apparent swing is attributable to code or to a
loaded box, and warns when the two records come from different core
counts. Older records (pre round 7) carry only medians; when either
side lacks best-of, BOTH sides fall back to medians (every record has
them), since a mixed median-vs-best comparison would manufacture fake
improvements.

Usage:
    python tools/bench_compare.py OLD.json NEW.json [--threshold 1.5]
    python tools/bench_compare.py <(git show r06:bench_last_full.json) bench_last_full.json
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def _load(path: str) -> dict:
    with open(path) as f:
        d = json.load(f)
    if "queries" not in d:
        sys.exit(f"{path}: not a bench full record (no 'queries' key)")
    return d


def _common_basis(old: dict, new: dict) -> tuple[dict, str, dict, str]:
    """Pick the same estimator on BOTH sides: best-of when both records
    carry it, otherwise medians from both (every record has 'queries') —
    a mixed median-vs-best comparison would manufacture fake
    improvements, the exact artifact this tool exists to prevent."""
    if "queries_best" in old and "queries_best" in new:
        return old["queries_best"], "best", new["queries_best"], "best"
    return old["queries"], "median", new["queries"], "median"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument(
        "--threshold",
        type=float,
        default=1.5,
        help="flag queries whose ratio moved beyond this (either way)",
    )
    args = ap.parse_args()

    old, new = _load(args.old), _load(args.new)
    qo, bo, qn, bn = _common_basis(old, new)

    for side, d in (("old", old), ("new", new)):
        calib = d.get("calib")
        note = (
            f"calib ratio {calib['ratio']} (coloaded={calib['coloaded']})"
            if calib and calib.get("ratio") is not None
            else "no calibration record — co-load state unknown"
        )
        print(
            f"{side}: sf={d.get('sf')} cores={d.get('cores')} total={d.get('value')}s "
            f"best_total={d.get('value_best', 'n/a')}s basis={bo if side == 'old' else bn} — {note}"
        )
    if str(old.get("cores")) != str(new.get("cores")):
        print(
            f"WARNING: the records come from different core counts "
            f"({old.get('cores')} vs {new.get('cores')}); per-query ratios "
            "compare hosts, not code."
        )

    common = sorted(set(qo) & set(qn))
    missing = sorted(set(qo) ^ set(qn))
    if missing:
        print(f"not in both records ({len(missing)}): {', '.join(missing)}")
    if not common:
        sys.exit("no query names in common — nothing to compare")

    ratios = []
    flagged = []
    for name in common:
        o, n = max(qo[name], 1e-3), max(qn[name], 1e-3)
        r = n / o
        ratios.append(r)
        if r > args.threshold or r < 1 / args.threshold:
            flagged.append((r, name, qo[name], qn[name]))

    print(
        f"\n{len(common)} queries compared; geomean ratio "
        f"{statistics.geometric_mean(ratios):.3f} (new/old, <1 is faster)"
    )
    if flagged:
        print(f"moved >{args.threshold}x either way:")
        for r, name, o, n in sorted(flagged, key=lambda t: -t[0]):
            print(f"  {'+' if r > 1 else '-'} {name}: {o}s -> {n}s  (x{r:.2f})")
    else:
        print(f"no query moved beyond {args.threshold}x.")


if __name__ == "__main__":
    main()
