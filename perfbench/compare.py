#!/usr/bin/env python3
"""Compare two sets of benchmark runs, workload by workload.

Usage:

    python3 perfbench/compare.py BASE.jsonl [CHANGE.jsonl]

Each file holds one JSON run record per line, as `run.py` appends them to
`.bench_build/runs.jsonl` (`workload`, `seed`, `trace`, `metrics`); traced
runs are ignored. For every workload and end-to-end metric of
BENCHMARK.json it prints each set's median and quartiles, the spread
(quartile distance over median) and, given two sets, the change of the
median, the share of run pairs the change wins (pairs matched by seed when
both sets ran the same seeds, otherwise by order; ties count for neither)
and a verdict:

- unresolved: either set's spread exceeds the metric's bound;
- better: the change wins at least 9 in 10 pairs and its median moved by
  more than the base set's quartile distance;
- worse: the median is worse by more than the bound;
- flat: anything else.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                if not r.get("trace"):
                    runs.setdefault(r["workload"], []).append(r)
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def pairs(a, b):
    """Matched (base, change) run pairs."""
    sa = {r["seed"]: r for r in a}
    sb = {r["seed"]: r for r in b}
    if len(sa) == len(a) and len(sb) == len(b) and set(sa) == set(sb):
        return [(sa[s], sb[s]) for s in sorted(sa)]
    return list(zip(a, b))


def win_fraction(ps, name, better):
    wins = 0
    for ra, rb in ps:
        va, vb = ra["metrics"][name]["value"], rb["metrics"][name]["value"]
        if va != vb and (vb < va) == (better == "lower"):
            wins += 1
    return wins / len(ps) if ps else float("nan")


def verdict(a, b, m):
    va = [r["metrics"][m["name"]]["value"] for r in a]
    vb = [r["metrics"][m["name"]]["value"] for r in b]
    if spread(va) > m["bound"] or spread(vb) > m["bound"]:
        return "unresolved"
    q1, ma, q3 = quartiles(va)
    mb = statistics.median(vb)
    sign = 1 if m["better"] == "lower" else -1
    worse_by = sign * (mb - ma) / abs(ma)
    if win_fraction(pairs(a, b), m["name"], m["better"]) >= 0.9 and abs(mb - ma) > q3 - q1:
        return "better"
    if worse_by > m["bound"]:
        return "worse"
    return "flat"


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    base = load(argv[1])
    change = load(argv[2]) if len(argv) == 3 else None
    for w in [w["name"] for w in spec["workloads"]]:
        a = [r for r in base.get(w, []) if r.get("correct")]
        b = [r for r in (change or {}).get(w, []) if r.get("correct")]
        if not a:
            continue
        head = f"{w}: base n={len(a)}" + (f", change n={len(b)}" if change is not None else "")
        print(head)
        for m in spec["end_to_end"]:
            va = [r["metrics"][m["name"]]["value"] for r in a]
            q1, md, q3 = quartiles(va)
            row = (f"  {m['name']:<16} base {md:12.4f} [{q1:.4f}, {q3:.4f}] "
                   f"spread {spread(va):.3f}/{m['bound']}")
            if b:
                vb = [r["metrics"][m["name"]]["value"] for r in b]
                p1, mb, p3 = quartiles(vb)
                row += (f" | change {mb:12.4f} [{p1:.4f}, {p3:.4f}] spread {spread(vb):.3f}"
                        f" | {100 * (mb - md) / abs(md):+.1f}%"
                        f" wins {win_fraction(pairs(a, b), m['name'], m['better']):.2f}"
                        f" {verdict(a, b, m)}")
            print(row + f" {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
