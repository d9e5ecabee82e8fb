#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric and workload by workload.

Each set is a directory of result files named <workload>-seed<N>.json, each
holding a run's result line (the last line run.py prints):

    for s in 1 2 3 4 5 6 7 8 9 10; do
      python3 perfbench/run.py --workload render_dashboard --seed $s \\
          --seconds 20 --trace 0 | tail -n 1 > runs/A/render_dashboard-seed$s.json
    done
    python3 perfbench/compare.py runs/A runs/B     # A = parent, B = change
    python3 perfbench/compare.py runs/A            # one set: spreads only

For every (workload, metric) it prints each side's median and quartiles
(statistics.quantiles, n=4), the spread (interquartile range over median),
the pairs the change won (runs paired by seed; ties count for neither), and
a verdict against the metric's bound from BENCHMARK.json:

  unresolved  a side's spread is wider than the bound, and not every run of
              the change beats every run of the parent
  regressed   the change's median is worse than the parent's by more than
              the bound
  improved    the change won at least 9 of 10 pairs and its median beats the
              parent's by more than the parent's interquartile range
  within      none of the above
"""
import glob
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec():
    path = os.path.join(HERE, os.pardir, "BENCHMARK.json")
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def load_runs(d):
    """{workload: {seed: metrics}} from a directory of result files."""
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*-seed*.json"))):
        m = re.match(r"(.+)-seed(\d+)\.json$", os.path.basename(p))
        with open(p) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
        if not m or not lines:
            continue
        res = json.loads(lines[-1])
        if not res.get("correct", False):
            print(f"note: {p} reports correct=false", file=sys.stderr)
        runs.setdefault(m.group(1), {})[int(m.group(2))] = {
            k: v["value"] for k, v in res["metrics"].items()}
    return runs


def summary(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0], 0.0
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv):
    if len(argv) not in (1, 2):
        sys.exit(__doc__)
    spec = load_spec()
    a = load_runs(argv[0])
    b = load_runs(argv[1]) if len(argv) == 2 else None
    hdr = f"{'workload':<18} {'metric':<34} {'bound':>5}  {'A median [q1, q3] spread':<40}"
    if b is not None:
        hdr += f"  {'B median [q1, q3] spread':<40} {'won':>6}  verdict"
    print(hdr)
    for wl in sorted(a):
        metrics = sorted({k for r in a[wl].values() for k in r})
        for name in metrics:
            m = spec.get(name, {})
            bound = m.get("bound")
            lower = m.get("better", "lower") == "lower"
            av = [r[name] for r in a[wl].values() if name in r]
            med_a, q1a, q3a, sa = summary(av)
            line = (f"{wl:<18} {name:<34} {bound if bound is not None else '-':>5}  "
                    f"{f'{med_a:.4g} [{q1a:.4g}, {q3a:.4g}] {sa:.3f}':<40}")
            if b is not None and wl in b:
                bv = [r[name] for r in b[wl].values() if name in r]
                if not bv:
                    print(line + "  (missing in B)")
                    continue
                med_b, q1b, q3b, sb = summary(bv)
                seeds = sorted(set(a[wl]) & set(b[wl]))
                better = (lambda x, y: x < y) if lower else (lambda x, y: x > y)
                won = sum(better(b[wl][s][name], a[wl][s][name]) for s in seeds
                          if name in a[wl][s] and name in b[wl][s])
                worse_by = (med_b - med_a) / med_a if med_a else 0.0
                if not lower:
                    worse_by = -worse_by
                all_better = all(better(x, y) for x in bv for y in av)
                if bound is None:
                    verdict = "-"
                elif (sa > bound or sb > bound) and not all_better:
                    verdict = "unresolved"
                elif worse_by > bound:
                    verdict = "regressed"
                elif seeds and won >= 0.9 * len(seeds) and -worse_by * med_a > (q3a - q1a):
                    verdict = "improved"
                else:
                    verdict = "within"
                line += (f"  {f'{med_b:.4g} [{q1b:.4g}, {q3b:.4g}] {sb:.3f}':<40} "
                         f"{f'{won}/{len(seeds)}':>6}  {verdict}")
            elif bound is not None:
                line += "  ok" if sa <= bound else "  SPREAD > BOUND"
            print(line)


if __name__ == "__main__":
    main(sys.argv[1:])
