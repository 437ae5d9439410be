#!/usr/bin/env python3
"""Compare two sets of benchmark runs: a parent commit and a change.

Measure (pairs of runs, alternating which side goes first):

    python3 perfbench/compare.py measure --parent <checkout> \
        --change <checkout> --out <dir> [--pairs 10] [--seed0 1000]

Each pair runs both sides on the same seed, for every workload in
BENCHMARK.json, with this benchmark's code and run length; stdout of each
run is saved as <out>/<side>/<workload>-<seed>.out.

Judge (any two directories of such .out files):

    python3 perfbench/compare.py judge <parent_dir> <change_dir>

One row per (workload, metric). The rules are those of the
choosing-metrics method (§6.5, §8):

* gain       — the change wins at least 9/10 of the pairs (ties count for
               neither side) AND the medians differ by more than the
               parent's interquartile range;
* regression — the change's median is worse than the parent's by more
               than the metric's bound;
* unresolved — the parent's own spread (IQR / median) exceeds the bound,
               unless every change run beats every parent run;
* same       — otherwise.

Runs whose result is not `correct`, or that failed operations the parent
did not, are listed, and a side with more failed operations cannot gain.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(HERE, "..", "BENCHMARK.json")


def spec():
    with open(SPEC) as f:
        return json.load(f)


def parse_out(path):
    """(workload, seed, result) from one run's stdout."""
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.startswith("{")]
    detail = json.loads(lines[-2])["detail"]
    return detail["workload"], detail["seed"], json.loads(lines[-1])


def load(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*.out"))):
        try:
            w, seed, res = parse_out(p)
        except (IndexError, ValueError, KeyError):
            print(f"skipping unreadable run {p}", file=sys.stderr)
            continue
        runs.setdefault(w, {})[seed] = res
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], q[1], q[2]


def judge(parent_dir, change_dir):
    s = spec()
    P, C = load(parent_dir), load(change_dir)
    rows = []
    for w in [x["name"] for x in s["workloads"]]:
        p, c = P.get(w, {}), C.get(w, {})
        seeds = sorted(set(p) & set(c))
        if not seeds:
            rows.append((w, "-", "no paired runs", "", "", "", ""))
            continue
        bad = [f"{side}:{seed}" for side, runs in (("parent", p), ("change", c))
               for seed, r in runs.items() if not r["correct"]]
        pf = sum(p[x]["failed"] for x in seeds)
        cf = sum(c[x]["failed"] for x in seeds)
        for m in s["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            pv = [p[x]["metrics"][name]["value"] for x in seeds]
            cv = [c[x]["metrics"][name]["value"] for x in seeds]
            p1, pm, p3 = quartiles(pv)
            c1, cm, c3 = quartiles(cv)
            better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
            wins = sum(better(b, a) for a, b in zip(pv, cv))
            gap = cm - pm
            worse = gap > 0 if lower else gap < 0
            spread = (p3 - p1) / pm if pm else float("inf")
            dominates = all(better(b, a) for a in pv for b in cv)
            if (wins >= 0.9 * len(seeds) and abs(gap) > p3 - p1
                    and not worse and cf <= pf):
                verdict = "gain"
            elif worse and abs(gap) > m["bound"] * pm:
                verdict = "regression"
            elif spread > m["bound"] and not dominates:
                verdict = "unresolved"
            else:
                verdict = "same"
            rows.append((w, name, verdict,
                         f"{pm:.4g} [{p1:.4g}, {p3:.4g}]",
                         f"{cm:.4g} [{c1:.4g}, {c3:.4g}]",
                         f"{wins}/{len(seeds)}",
                         f"{gap / pm:+.1%} (bound {m['bound']:.0%})"
                         if pm else ""))
        rows.append((w, "failed_ops", "", str(pf), str(cf), "", ""))
        if bad:
            rows.append((w, "incorrect_runs", " ".join(bad), "", "", "", ""))
    head = ("workload", "metric", "verdict", "parent median [q1, q3]",
            "change median [q1, q3]", "change wins", "median gap")
    widths = [max(len(str(r[i])) for r in rows + [head])
              for i in range(len(head))]
    for r in [head] + rows:
        print("  ".join(str(x).ljust(wd) for x, wd in zip(r, widths)))


def measure(parent, change, out, pairs, seed0):
    s = spec()
    run = os.path.join(HERE, "run.py")
    for side in ("parent", "change"):
        os.makedirs(os.path.join(out, side), exist_ok=True)
    for i in range(pairs):
        seed = seed0 + i
        order = [("parent", parent), ("change", change)]
        if i % 2:
            order.reverse()
        for w in [x["name"] for x in s["workloads"]]:
            for side, root in order:
                dst = os.path.join(out, side, f"{w}-{seed}.out")
                with open(dst, "w") as f:
                    subprocess.run(
                        [sys.executable, run, "--workload", w, "--seed",
                         str(seed), "--seconds", str(s["run_seconds"]),
                         "--trace", "0"], cwd=root, stdout=f, check=False)
                print(f"pair {i} {w} {side} done", file=sys.stderr)
    judge(os.path.join(out, "parent"), os.path.join(out, "change"))


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    m = sub.add_parser("measure")
    m.add_argument("--parent", required=True)
    m.add_argument("--change", required=True)
    m.add_argument("--out", required=True)
    m.add_argument("--pairs", type=int, default=10)
    m.add_argument("--seed0", type=int, default=1000)
    j = sub.add_parser("judge")
    j.add_argument("parent_dir")
    j.add_argument("change_dir")
    a = ap.parse_args()
    if a.cmd == "measure":
        measure(os.path.abspath(a.parent), os.path.abspath(a.change),
                os.path.abspath(a.out), a.pairs, a.seed0)
    else:
        judge(a.parent_dir, a.change_dir)


if __name__ == "__main__":
    main()
