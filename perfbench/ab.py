#!/usr/bin/env python3
"""Interleaved A/A or A/B comparison of one workload.

    python3 perfbench/ab.py --workload pipe --pairs 10            # A/A, this tree
    python3 perfbench/ab.py --workload spark --pairs 10 \
        --a-commit HEAD~1 --b-commit HEAD                          # parent vs change

Runs pairs of benchmark runs, one on side A and one on side B with the
same seed, alternating which side goes first. Both sides run this
tree's benchmark code (`perfbench/run.py`); only the program differs.
A side is this tree, a directory (`--a-dir`), or a commit that is
exported with `git archive` under `.bench_work/ab/`.

Prints, for every end-to-end metric, each side's median and quartiles,
B's median over A's, how many pairs B won, A's own spread, and whether
the two medians are within the bound in BENCHMARK.json of each other.
A gain may be claimed only when B wins at least 9 of 10 pairs and the
medians differ by more than A's spread; a regression is a B median worse
than A's by more than the bound. The exit code is 0 when every metric
agrees.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def side(commit, directory):
    if directory:
        return os.path.abspath(directory)
    if not commit:
        return ROOT
    rev = subprocess.run(["git", "rev-parse", "--short", commit], cwd=ROOT, check=True,
                         stdout=subprocess.PIPE, text=True).stdout.strip()
    out = os.path.join(ROOT, ".bench_work", "ab", rev)
    if not os.path.isdir(out):
        os.makedirs(out)
        archive = subprocess.Popen(["git", "archive", rev], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", out], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {rev} failed")
    return out


def run(root, workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if not lines:
        sys.exit(f"run failed in {root} (exit {r.returncode}):\n{r.stderr[-3000:]}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        print(f"  warning: incorrect output in {root} seed {seed}", file=sys.stderr)
    return res


def quartiles(v):
    return statistics.quantiles(v, n=4) if len(v) >= 2 else [v[0]] * 3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipe", "spark"])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000, help="seed of the first pair")
    ap.add_argument("--a-commit")
    ap.add_argument("--b-commit")
    ap.add_argument("--a-dir")
    ap.add_argument("--b-dir")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    roots = {"A": side(a.a_commit, a.a_dir), "B": side(a.b_commit, a.b_dir)}
    res = {"A": [], "B": []}
    for i in range(a.pairs):
        order = "AB" if i % 2 == 0 else "BA"
        for s in order:
            res[s].append(run(roots[s], a.workload, a.seed + i, bench["run_seconds"]))
        print(f"pair {i + 1}/{a.pairs} ({order[0]} first) done", file=sys.stderr)

    print(f"workload {a.workload}: {a.pairs} pairs, A={roots['A']} B={roots['B']}")
    for s in "AB":
        att = sum(r["attempted"] for r in res[s])
        fail = sum(r["failed"] for r in res[s])
        print(f"  side {s}: {fail}/{att} ops failed, "
              f"{sum(not r['correct'] for r in res[s])} runs with incorrect output")
    agree = True
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        va = [r["metrics"][name]["value"] for r in res["A"]]
        vb = [r["metrics"][name]["value"] for r in res["B"]]
        qa, qb = quartiles(va), quartiles(vb)
        ratio = qb[1] / qa[1]
        wins = sum((b < x) if lower else (b > x) for x, b in zip(va, vb))
        spread = (qa[2] - qa[0]) / qa[1]
        worse = (ratio - 1) if lower else (1 - ratio)
        ok = abs(ratio - 1) <= m["bound"]
        agree &= ok
        verdict = "agree" if ok else ("B WORSE beyond bound" if worse > 0 else "B better beyond bound")
        print(f"  {name:18s} A {qa[1]:.5g} [{qa[0]:.5g}, {qa[2]:.5g}]  "
              f"B {qb[1]:.5g} [{qb[0]:.5g}, {qb[2]:.5g}] {m['unit']:5s} "
              f"B/A {ratio:.4f}  B won {wins}/{a.pairs}  A spread {spread:.4f}  "
              f"bound {m['bound']}  {verdict}")
    print("sides agree within the bounds" if agree else "sides do NOT agree within the bounds")
    return 0 if agree else 1


if __name__ == "__main__":
    sys.exit(main())
