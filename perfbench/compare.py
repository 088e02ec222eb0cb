#!/usr/bin/env python3
"""A/B comparison of two commits (or one commit against itself).

    python3 perfbench/compare.py <revA> <revB> [--pairs 10]

Each revision is exported with `git archive` under
.bench_build/compare/<sha>/, and this checkout's benchmark (perfbench/ and
BENCHMARK.json) is copied over it, so both sides run identical benchmark
code. For every workload of BENCHMARK.json the command runs `--pairs`
interleaved pairs of `run_seconds` runs, alternating which side goes
first; both runs of a pair use the same seed (SEED + pair index).
It prints, per workload and end-to-end metric, each side's median and
quartiles and the share of pairs B won (ties count for neither side).

`compare.py HEAD HEAD` is the same-commit form: its spread per metric is
what the bounds in BENCHMARK.json must cover.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "compare")
SEED = 1000


def export(rev):
    sha = subprocess.check_output(["git", "rev-parse", rev], cwd=ROOT, text=True).strip()
    d = os.path.join(OUT, sha[:12])
    if not os.path.exists(os.path.join(d, "build.sbt")):
        os.makedirs(d, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.check_call(["tar", "-x", "-C", d], stdin=archive.stdout)
        archive.wait()
    shutil.rmtree(os.path.join(d, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(d, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "project", "__pycache__"))
    os.makedirs(os.path.join(d, "perfbench", "project"), exist_ok=True)
    shutil.copy(os.path.join(HERE, "project", "build.properties"),
                os.path.join(d, "perfbench", "project", "build.properties"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), os.path.join(d, "BENCHMARK.json"))
    return sha[:12], d


def run(side_dir, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=side_dir, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        sys.exit(f"run failed in {side_dir} ({workload}, seed {seed}):\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--pairs", type=int, default=10)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    workloads = [w["name"] for w in spec["workloads"]]
    (na, da), (nb, db) = export(a.rev_a), export(a.rev_b)
    same = da == db
    print(f"A = {na}, B = {nb}{' (same commit)' if same else ''}, {a.pairs} pairs, "
          f"{seconds} s per run")
    for w in workloads:
        res = {"A": [], "B": []}
        fails = {"A": 0, "B": 0}
        for i in range(a.pairs):
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            for side in order:
                r = run(da if side == "A" else db, w, SEED + i, seconds)
                res[side].append(r["metrics"])
                fails[side] += r["failed"]
                if not r["correct"]:
                    print(f"  {w} pair {i}: side {side} reported incorrect output")
        print(f"\n== {w}  (failed operations: A {fails['A']}, B {fails['B']})")
        print(f"{'metric':<16}{'A median':>12}{'A q1..q3':>22}{'B median':>12}"
              f"{'B q1..q3':>22}{'B/A':>8}{'B wins':>8}")
        for m in spec["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            va = [x[name]["value"] for x in res["A"]]
            vb = [x[name]["value"] for x in res["B"]]
            wins = sum((b < x) if lower else (b > x) for x, b in zip(va, vb))
            ma, mb = statistics.median(va), statistics.median(vb)
            qa, qb = quartiles(va), quartiles(vb)
            print(f"{name:<16}{ma:>12.4f}{f'{qa[0]:.4f}..{qa[1]:.4f}':>22}{mb:>12.4f}"
                  f"{f'{qb[0]:.4f}..{qb[1]:.4f}':>22}{mb / ma if ma else 0:>8.3f}"
                  f"{wins / len(va):>8.0%}")


if __name__ == "__main__":
    main()
