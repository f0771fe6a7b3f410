"""Compare two result files, or summarise one.

A result file is the standard output of any number of runs of
``run.py`` (``sweep.py`` writes one); each run contributes its ``RESULT``
line. For every workload and end-to-end metric this prints each side's
median, quartiles and n (one value per run), and a verdict by the
metric's bound in ``BENCHMARK.json``:

- ``better``: B's median is better than A's by more than A's spread (the
  distance between A's quartiles) and B wins at least nine tenths of the
  runs paired by seed;
- ``worse``: B's median is worse than A's by more than the bound, or every
  run of B reads worse than every run of A;
- ``unresolved``: neither, and a side's spread is wider than the bound;
- ``same``: neither, and both spreads are within the bound.

    python3 perfbench/compare.py A.txt [B.txt]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str, trace: int = 0) -> dict[str, dict[str, dict[int, float]]]:
    """workload → metric → seed → value (one run per seed)."""
    out: dict = defaultdict(lambda: defaultdict(dict))
    with open(path) as f:
        for line in f:
            if not line.startswith("RESULT "):
                continue
            r = json.loads(line[len("RESULT "):])
            if r["trace"] != trace:
                continue
            for name, m in r["metrics"].items():
                if m["value"] is not None:
                    out[r["workload"]][name][r["seed"]] = m["value"]
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def spread(values: list[float]) -> float:
    """Distance between the quartiles as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else float("inf")


def verdict(a: dict[int, float], b: dict[int, float], bound: float, lower_better: bool) -> str:
    """B against A. Runs pair up by seed."""
    va, vb = list(a.values()), list(b.values())
    sign = -1.0 if lower_better else 1.0
    ma, mb = quartiles(va)[1], quartiles(vb)[1]
    gain = sign * (mb - ma) / abs(ma) if ma else 0.0
    pairs = [(a[k], b[k]) for k in a.keys() & b.keys()]
    wins = sum(1 for x, y in pairs if sign * (y - x) > 0)
    if pairs and gain > spread(va) and wins >= 0.9 * len(pairs):
        return "better"
    if -gain > bound:
        return "worse"
    if min(vb) > max(va) if lower_better else max(vb) < min(va):
        return "worse"
    if spread(va) > bound or spread(vb) > bound:
        return "unresolved"
    return "same"


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sides = [load(p) for p in argv]
    workloads = [w["name"] for w in spec["workloads"] if any(w["name"] in s for s in sides)]
    verdicts = []
    for w in workloads:
        for m in spec["end_to_end"]:
            vals = [s.get(w, {}).get(m["name"], {}) for s in sides]
            if not all(vals):
                print(f"{w:<14} {m['name']:<15} missing on a side")
                continue
            cols = []
            for v in (list(x.values()) for x in vals):
                q1, med, q3 = quartiles(v)
                cols.append(f"med {med:<11.5g} q1 {q1:<11.5g} q3 {q3:<11.5g} "
                            f"n {len(v):<3} spread {spread(v):.3f}")
            line = f"{w:<14} {m['name']:<15} {m['unit']:<7} A: {cols[0]}"
            if len(vals) == 2:
                v = verdict(vals[0], vals[1], m["bound"], m["better"] == "lower")
                verdicts.append(v)
                line += f" | B: {cols[1]} | {v} (bound {m['bound']})"
            else:
                ok = spread(list(vals[0].values())) <= m["bound"]
                line += f" | bound {m['bound']} {'ok' if ok else 'SPREAD OVER BOUND'}"
            print(line)
    if verdicts:
        print("worse: %d  better: %d  unresolved: %d  same: %d" % tuple(
            verdicts.count(k) for k in ("worse", "better", "unresolved", "same")))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
