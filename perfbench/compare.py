"""Compare two sets of benchmark records.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 >> a.out
    ...
    python3 perfbench/compare.py a.out b.out

Each file holds the stdout of runs; the stamped record is the line before
each run's result line, and every other line is skipped. For every
workload and metric the tool prints each side's median, quartile spread
and sample count, and the change of the median. It refuses (exit code 2)
when any two records disagree on a stamp key that makes figures
incomparable: host core count, Spark version, scale factor, shuffle
partitions, AQE, driver memory, where streaming checkpoints and state
live, and so on (``stats.COMPARABLE_KEYS``).
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.stats import comparable, median, spread


def load(path: Path) -> list[dict]:
    records = []
    for line in path.read_text().splitlines():
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        if isinstance(rec, dict) and "stamp" in rec:
            records.append(rec)
    return records


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    sides = [load(Path(p)) for p in argv]
    if not all(sides):
        print("compare: a file holds no records", file=sys.stderr)
        return 2
    ref = sides[0][0]["stamp"]
    for rec in (r for side in sides for r in side):
        differ = comparable(ref, rec["stamp"])
        if differ:
            print(f"compare: refusing, stamps differ on {differ}", file=sys.stderr)
            return 2
    values: dict[tuple[str, str], list[list[float]]] = defaultdict(lambda: [[], []])
    for i, side in enumerate(sides):
        for rec in side:
            for name, v in rec["metrics"].items():
                values[(rec["stamp"]["workload"], name)][i].append(v)
    print(f"{'workload':10} {'metric':34} {'median A':>10} {'spread A':>8} {'n':>3} {'median B':>10} {'spread B':>8} {'n':>3} {'B/A':>7}")
    for (wl, name), (a, b) in sorted(values.items()):
        if not a or not b:
            continue
        ma, mb = median(a), median(b)
        ratio = f"{mb / ma:7.3f}" if ma else "    n/a"
        print(f"{wl:10} {name:34} {ma:10.4f} {spread(a) if ma else 0:8.3f} {len(a):3} {mb:10.4f} {spread(b) if mb else 0:8.3f} {len(b):3} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
