"""Run the benchmark over several seeds and summarise the spreads.

    python3 perfbench/sweep.py --out results.txt --seeds 1-10

Runs ``BENCHMARK.json``'s command untraced, once per workload and seed,
one after the other, appending each run's standard output to ``--out``,
then prints
``compare.py``'s summary of that file. Two such files, one per commit,
are what ``compare.py A B`` compares.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import compare

ROOT = compare.ROOT


def _seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    bad = 0
    for seed in _seeds(a.seeds):
        for w in names:
            cmd = spec["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", "0",
            ]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True, timeout=600)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            ok = p.returncode == 0 and last.startswith("{") and json.loads(last)["correct"]
            bad += not ok
            print(f"{w} seed={seed} exit={p.returncode} correct={ok} "
                  f"{time.perf_counter() - t0:.1f}s", file=sys.stderr, flush=True)
            with open(a.out, "a") as f:
                f.write(p.stdout)
    compare.main([a.out])
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
