"""Compares two sets of benchmark results.

    python3 perfbench/compare.py <A> <B>

A and B are result files, or directories of them: run.py keeps one per run
under .bench_build/perfbench/results. Per workload and metric this prints
each side's median and quartiles (as statistics.quantiles gives them) and
each side's spread, (q3 - q1) / median. For an end-to-end metric it also
says whether B's median is worse than A's by more than the metric's bound
in BENCHMARK.json, and whether either side's spread exceeds the bound.
Exits 1 when any end-to-end metric disagrees, else 0.
"""
import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(arg):
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = {}
    for f in files:
        r = json.loads(f.read_text())
        runs.setdefault((r["workload"], r["trace"]), []).append(r)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


def spread(q):
    return (q[2] - q[0]) / q[1] if q[1] else 0.0


def worse_by(a, b, better):
    """How much worse b is than a, as a share of a (negative: better)."""
    if not a:
        return 0.0
    return (b - a) / a if better == "lower" else (a - b) / a


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    a, b = load(argv[1]), load(argv[2])
    disagree = False
    for key in sorted(set(a) & set(b)):
        workload, trace = key
        ra, rb = a[key], b[key]
        print(f"== {workload} (trace {trace}): {len(ra)} vs {len(rb)} runs")
        names = [n for n in ra[0]["metrics"] if n in rb[0]["metrics"]]
        for name in names:
            qa = quartiles([r["metrics"][name]["value"] for r in ra])
            qb = quartiles([r["metrics"][name]["value"] for r in rb])
            line = (f"{name:40s} A {qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] "
                    f"spread {spread(qa):.1%}  B {qb[1]:.4g} "
                    f"[{qb[0]:.4g}, {qb[2]:.4g}] spread {spread(qb):.1%}")
            m = bounds.get(name)
            if m:
                w = worse_by(qa[1], qb[1], m["better"])
                verdicts = [f"B worse by {w:.1%}" if w > m["bound"] else "ok"]
                if name != "setup_s":
                    verdicts += [f"{side} spread over bound" for side, q in
                                 (("A", qa), ("B", qb))
                                 if spread(q) > m["bound"]]
                ok = verdicts == ["ok"]
                disagree |= not ok
                line += f"  bound {m['bound']:.0%}: {', '.join(verdicts)}"
            print(line)
    for key in sorted(set(a) ^ set(b)):
        print(f"== {key[0]} (trace {key[1]}): only on one side")
    return 1 if disagree else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
