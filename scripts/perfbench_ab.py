#!/usr/bin/env python3
"""A/B of two graft checkouts on the perfbench workloads, in alternating pairs.

    python3 scripts/perfbench_ab.py --parent DIR --change DIR \
        [--workload lakehouse] [--workload curation]

Each checkout is a complete tree (`git archive <sha> | tar -x -C DIR`) with
identical perfbench code. For every workload and seed 11-20 it runs
`python3 perfbench/run.py --workload W --seed N --seconds 15 --trace 0` once
in each checkout, one run at a time, the parent first on odd seeds and the
change first on even ones. Every run is made afresh; its output is kept in a
new temporary directory (printed at the start, under $TMPDIR if set) as
<workload>_<side>_<seed>.txt.

It prints, per workload and end-to-end metric of the change's BENCHMARK.json,
each side's median and quartiles, the change of the medians, the pairs the
change won, whether a gain would hold (the change wins at least 9 of the 10
pairs and the medians differ by more than the parent's interquartile range),
and a no-regression verdict against the metric's `bound`, a fraction of the
parent's median:

  worse       the change's median is worse than the parent's by more than
              the bound;
  unresolved  the parent's interquartile range exceeds the bound (relative
              to its median) and not every change run beats every parent run;
  ok          otherwise.

It also prints each side's count of `correct` runs and of failed operations.
Only perfbench/run.py is called; nothing under perfbench/ is changed.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

SEEDS = range(11, 21)
SECONDS = 15


def result_of(path):
    """The JSON result line of a run output, or None."""
    for line in reversed(open(path).read().splitlines()):
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                return None
    return None


def run_one(checkout, workload, seed, path):
    with open(path, "w") as out:
        subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0"],
                       cwd=checkout, stdout=out, stderr=subprocess.STDOUT)
    return result_of(path)


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(p, c, bound, lower):
    """worse / unresolved / ok for parent runs `p` and change runs `c`."""
    pm, cm = statistics.median(p), statistics.median(c)
    worse_by = (cm - pm) if lower else (pm - cm)
    if worse_by > bound * abs(pm):
        return "worse"
    p1, p3 = quartiles(p)
    all_beat = max(c) < min(p) if lower else min(c) > max(p)
    if p3 - p1 > bound * abs(pm) and not all_beat:
        return "unresolved"
    return "ok"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", help="repeatable; default: lakehouse")
    a = ap.parse_args()
    workloads = a.workload or ["lakehouse"]
    seeds = list(SEEDS)
    out = tempfile.mkdtemp(prefix="perfbench_ab_")
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    spec = json.load(open(os.path.join(sides["change"], "BENCHMARK.json")))
    metrics = spec["end_to_end"]
    print(f"run outputs in {out}", file=sys.stderr, flush=True)

    for w in workloads:
        results = {"parent": {}, "change": {}}
        for s in seeds:
            order = ("parent", "change") if s % 2 == 1 else ("change", "parent")
            for side in order:
                print(f"{w} seed {s}: {side}", file=sys.stderr, flush=True)
                res = run_one(sides[side], w, s, os.path.join(out, f"{w}_{side}_{s}.txt"))
                if res is not None:
                    results[side][s] = res
        paired = [s for s in seeds if s in results["parent"] and s in results["change"]]
        print(f"\n== {w}: {len(paired)} pairs (seeds {seeds[0]}-{seeds[-1]}) ==")
        for side in ("parent", "change"):
            rs = results[side].values()
            print(f"{side}: {sum(1 for r in rs if r['correct'])}/{len(seeds)} correct, "
                  f"{sum(r['failed'] for r in rs)} failed operations, "
                  f"{len(seeds) - len(rs)} runs without a result")
        print(f"{'metric':<24} {'parent median [q1, q3]':>32} {'change median [q1, q3]':>32}"
              f" {'change':>8} {'won':>6}  {'gain holds':<10}  verdict")
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            p = [results["parent"][s]["metrics"][name]["value"] for s in paired]
            c = [results["change"][s]["metrics"][name]["value"] for s in paired]
            if not paired:
                continue
            pm, cm = statistics.median(p), statistics.median(c)
            (p1, p3), (c1, c3) = quartiles(p), quartiles(c)
            won = sum(1 for x, y in zip(p, c) if (y < x if lower else y > x))
            rel = (cm - pm) / pm * 100 if pm else 0.0
            better = cm < pm if lower else cm > pm
            holds = better and won * 10 >= 9 * len(paired) and abs(cm - pm) > p3 - p1
            print(f"{name:<24} {f'{pm:.4g} [{p1:.4g}, {p3:.4g}]':>32} "
                  f"{f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':>32} {rel:>+7.1f}% "
                  f"{f'{won}/{len(paired)}':>6}  {'yes' if holds else 'no':<10}  "
                  f"{verdict(p, c, m['bound'], lower)}")


if __name__ == "__main__":
    main()
