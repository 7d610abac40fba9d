#!/usr/bin/env python3
"""Compare two sets of benchmark run records, metric by metric.

Usage (from the repository root):
  python3 perfbench/compare.py <base record.json ...> -- <new record.json ...>

Records are the files perfbench/run.py writes under .bench_build/results/.
For each workload and end-to-end metric of BENCHMARK.json it prints both
sides' median and quartile spread and whether the new median is worse than
the base by more than the metric's bound. Sets measured with different
`cpus` are refused: a comparison never mixes core counts.
"""
import json
import os
import statistics
import sys


def load(paths):
    recs = []
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        if r.get("trace") == 0:
            recs.append(r)
    return recs


def spread(values):
    """Median and the quartile distance as a share of it."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1:])
    cpus = {r["cpus"] for r in base + new}
    if len(cpus) != 1:
        sys.exit(f"refused: the records were measured with different cpus {sorted(cpus)}")
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        spec = json.load(f)
    worse = 0
    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        for m in spec["end_to_end"]:
            b = [r["e2e"][m["name"]] for r in base if r["workload"] == wl]
            n = [r["e2e"][m["name"]] for r in new if r["workload"] == wl]
            (bm, bs), (nm, ns) = spread(b), spread(n)
            change = (nm - bm) / bm if m["better"] == "lower" else (bm - nm) / bm
            verdict = "worse" if change > m["bound"] else "ok"
            if max(bs, ns) > m["bound"] and m["name"] != "setup_s":
                verdict += " (unresolved: spread above bound)"
            worse += verdict.startswith("worse")
            print(f"{wl:15} {m['name']:18} base {bm:12.4f} ({bs:6.1%}, n={len(b)})  "
                  f"new {nm:12.4f} ({ns:6.1%}, n={len(n)})  {change:+7.1%} {m['unit']:3} {verdict}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
