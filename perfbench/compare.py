#!/usr/bin/env python3
"""Compare two sets of run records, per workload and end-to-end metric.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the final records run.py writes (``<workload>-seed*.json``
under .bench_build/perfbench/records/). Runs pair up by workload and seed;
unpaired runs still count toward the medians. For each metric it prints both
sides' median and quartiles, the share of pairs the new side wins (ties count
for neither) and a verdict:

  improved    the new side wins at least 9/10 of the pairs and the medians
              differ by more than the base side's quartile distance
  worse       the new median is worse than the base median by more than the
              metric's bound in BENCHMARK.json
  unresolved  neither, while the base side's own spread is wider than the
              bound, unless every new run beats every base run
  unchanged   otherwise

A new side with more failed ops than the base side cannot be improved.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load(d):
    runs = defaultdict(dict)
    for f in sorted(Path(d).glob("*.json")):
        if f.name.endswith(".jvm.json"):
            continue
        r = json.loads(f.read_text())
        if r.get("trace") or "metrics" not in r:
            continue
        runs[r["workload"]][r["seed"]] = r
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, new, better, bound, pairs, failed_more):
    b1, bm, b3 = quartiles(base)
    _, nm, _ = quartiles(new)
    sign = 1 if better == "higher" else -1
    wins = sum(1 for b, n in pairs if sign * (n - b) > 0)
    share = wins / len(pairs) if pairs else 0.0
    if not failed_more and pairs and share >= 0.9 and sign * (nm - bm) > (b3 - b1):
        return "improved", share
    if sign * (nm - bm) < -bound * abs(bm):
        return "worse", share
    every_better = all(sign * (n - b) > 0 for n in new for b in base)
    if (b3 - b1) > bound * abs(bm) and not every_better:
        return "unresolved", share
    return "unchanged", share


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = json.loads(BENCHMARK.read_text())
    base, new = load(sys.argv[1]), load(sys.argv[2])
    print(f"{'workload':16} {'metric':22} {'base median [q1, q3]':34} {'new median [q1, q3]':34} wins  verdict")
    for w in sorted(set(base) | set(new)):
        if w not in base or w not in new:
            print(f"{w:16} present on one side only")
            continue
        seeds = sorted(set(base[w]) & set(new[w]))
        failed = lambda runs: sum(r["failed"] for r in runs.values())
        failed_more = failed(new[w]) > failed(base[w])
        for m in spec["end_to_end"]:
            k = m["name"]
            bv = [r["metrics"][k] for r in base[w].values() if r["metrics"].get(k) is not None]
            nv = [r["metrics"][k] for r in new[w].values() if r["metrics"].get(k) is not None]
            if not bv or not nv:
                continue
            pairs = [(base[w][s]["metrics"][k], new[w][s]["metrics"][k]) for s in seeds]
            v, share = verdict(bv, nv, m["better"], m["bound"], pairs, failed_more)
            fmt = lambda xs: "{1:.4g} [{0:.4g}, {2:.4g}]".format(*quartiles(xs))
            print(f"{w:16} {k:22} {fmt(bv):34} {fmt(nv):34} {share:4.2f}  {v}")
        print(f"{w:16} {'failed ops':22} {failed(base[w]):<34} {failed(new[w]):<34}")


if __name__ == "__main__":
    main()
