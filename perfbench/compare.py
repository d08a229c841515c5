"""Compare the end-to-end metrics of two sets of runs.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl

Each file holds run records as ``run.py`` appends them to
``perfbench/.work/runs.jsonl``. Refuses (exit 2) when the two sets ran on
different inputs: a workload whose pinned seed-0 digest differs between
them, or one seed whose input digest differs. Otherwise prints, per
workload and metric, each side's median, quartiles and run count.
"""

from __future__ import annotations

import json
import statistics
import sys
from typing import Dict, List


def load(path: str) -> List[dict]:
    with open(path) as f:
        return [r for r in map(json.loads, f) if r["trace"] == 0 and r["metrics"]]


def digests(runs: List[dict], key: str) -> Dict[tuple, set]:
    out: Dict[tuple, set] = {}
    for r in runs:
        k = (r["workload"],) if key == "pinned_digest" else (r["workload"], r["seed"])
        out.setdefault(k, set()).add(r[key])
    return out


def summary(values: List[float]) -> str:
    if len(values) < 2:
        return f"{values[0]:.4g} (n=1)"
    q1, _, q3 = statistics.quantiles(values, n=4)
    return f"{statistics.median(values):.4g} [{q1:.4g}, {q3:.4g}] (n={len(values)})"


def main(argv: List[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, change = load(argv[0]), load(argv[1])
    for key in ("pinned_digest", "input_digest"):
        a, b = digests(base, key), digests(change, key)
        clash = sorted(k for k in a.keys() & b.keys() if a[k] != b[k])
        if clash:
            print(f"refusing to compare: {key} differs for {clash}", file=sys.stderr)
            return 2
    for workload in sorted({r["workload"] for r in base} & {r["workload"] for r in change}):
        sides = [[r for r in runs if r["workload"] == workload] for runs in (base, change)]
        for metric in sorted(sides[0][0]["metrics"]):
            a, b = ([r["metrics"][metric]["value"] for r in side] for side in sides)
            unit = sides[0][0]["metrics"][metric]["unit"]
            print(f"{workload:16s} {metric:14s} {unit:7s} base {summary(a)}  change {summary(b)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
