#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 pipebench/compare.py <set A> <set B>

A set is a directory of saved run outputs, one file per run, named
`<workload>-<anything>`; the last line of each file is the run's result
line.  For example, ten runs of one workload:

    for s in $(seq 1 10); do
      python3 pipebench/run.py --workload dag_build --seed $s --seconds 10 \\
        --trace 0 > runs/A/dag_build-$s.txt
    done

For each workload and each end-to-end metric of BENCHMARK.json it prints
both sides' median and quartiles (statistics.quantiles, n=4) and the
spread, (Q3 - Q1) / median.  A metric is "worse" when B's median is worse
than A's by more than the metric's bound, and "unresolved" when either
side's spread exceeds the bound, unless every run of B reads better than
every run of A.  Each side's runs without a result line, runs that are
not correct and failed units are counted; B is worse when it has more of
them than A.  Exits 1 when anything is worse.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def result(path):
    """The run's result line as a dict, or None when the run printed none."""
    with open(path) as f:
        lines = [line for line in f.read().splitlines() if line.strip()]
    try:
        r = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None
    keys = {"correct", "attempted", "failed", "metrics"}
    return r if isinstance(r, dict) and keys <= r.keys() else None


def load(set_dir, workloads):
    """{workload: [result or None, one per run file]}"""
    runs = {}
    for name in sorted(os.listdir(set_dir)):
        w = next((w for w in workloads if name.startswith(w + "-")), None)
        if w is not None:
            runs.setdefault(w, []).append(result(os.path.join(set_dir, name)))
    return runs


def health(runs):
    """(runs without a result line, runs not correct, failed units, units)"""
    ok = [r for r in runs if r is not None]
    return (len(runs) - len(ok), sum(not r["correct"] for r in ok),
            sum(r["failed"] for r in ok), sum(r["attempted"] for r in ok))


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return q1, statistics.median(values), q3, (q3 - q1) / q2 if q2 else float("inf")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    workloads = [w["name"] for w in bench["workloads"]]
    a, b = (load(d, workloads) for d in sys.argv[1:])
    worse = False
    print(f"{'workload':<20} {'metric':<12} {'A median [Q1, Q3]':>34} "
          f"{'B median [Q1, Q3]':>34} {'change':>8}  verdict")
    for w in workloads:
        if w not in a or w not in b:
            print(f"{w:<20} missing from {'A' if w not in a else 'B'}")
            continue
        ha, hb = health(a[w]), health(b[w])
        for side, runs, h in (("A", a[w], ha), ("B", b[w], hb)):
            print(f"{w:<20} {side}: {len(runs)} runs, {h[0]} without a result line, "
                  f"{h[1]} not correct, {h[2]} of {h[3]} units failed")
        # a side that fails more, or leaves more runs without a result,
        # is worse whatever its timings say
        if any(x > y for x, y in zip(hb[:3], ha[:3])):
            print(f"{w:<20} {'failures':<12} B fails more than A  worse")
            worse = True
        for m in bench["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            va = [r["metrics"][name]["value"] for r in a[w] if r is not None]
            vb = [r["metrics"][name]["value"] for r in b[w] if r is not None]
            if not va or not vb:
                print(f"{w:<20} {name:<12} no results in {'A' if not va else 'B'}")
                worse = worse or not vb
                continue
            sa, sb = summary(va), summary(vb)
            change = (sb[1] - sa[1]) / sa[1]
            worse_by = change if lower else -change
            b_wins_all = max(vb) < min(va) if lower else min(vb) > max(va)
            if (sa[3] > bound or sb[3] > bound) and not b_wins_all:
                verdict = "unresolved"
            elif worse_by > bound:
                verdict, worse = "worse", True
            elif -worse_by > bound:
                verdict = "better"
            else:
                verdict = "same"
            cell = lambda s, n: f"{s[1]:.4g} [{s[0]:.4g}, {s[2]:.4g}] n={n} sp={s[3]:.3f}"
            print(f"{w:<20} {name:<12} {cell(sa, len(va)):>34} {cell(sb, len(vb)):>34} "
                  f"{change:>+8.3f}  {verdict} (bound {bound})")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
