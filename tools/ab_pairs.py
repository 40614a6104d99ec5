#!/usr/bin/env python3
"""Runs alternating parent/change pairs of one benchmark workload.

    python3 tools/ab_pairs.py --workload etl_daily --parent HEAD~1 --pairs 10
    python3 tools/ab_pairs.py --workload etl_daily --parent HEAD~1 --ledger --seed 11

The change side is this checkout's working tree; the parent side is
`--parent` checked out with `git worktree` at .bench_build/ab/parent
(re-created when it points at another commit). Pair i runs
`perfbench/run.py --seed <seed+i>` on both sides, parent first on even
pairs and change first on odd ones. For each end-to-end metric of
BENCHMARK.json the script prints each side's median and quartiles, the
pairs the change won (ties count for neither side) and whether a gain
can be claimed: at least 9 of 10 pairs won and a median gap larger than
the parent's quartile spread. Raw results go to
.bench_build/ab/<workload>-pairs.json.

With --ledger it instead runs one traced run (`--trace 1`) per side with
the same --seed, keeps both traces as
.bench_build/ab/<workload>-seed<n>-{parent,change}.json and prints
`perfbench/ledger_diff.py` parent → change. Nothing is written outside
.bench_build/ and the worktree.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AB = os.path.join(ROOT, ".bench_build", "ab")
PARENT = os.path.join(AB, "parent")


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          stdout=subprocess.PIPE).stdout.strip()


def parent_checkout(ref):
    want = git("rev-parse", "--verify", ref + "^{commit}")
    if os.path.isdir(PARENT):
        if git("rev-parse", "HEAD", cwd=PARENT) == want:
            return want
        git("worktree", "remove", "--force", PARENT)
    os.makedirs(AB, exist_ok=True)
    git("worktree", "add", "--detach", PARENT, want)
    return want


def run_once(checkout, workload, seed, seconds, trace=0):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.exit(f"[ab_pairs] run failed in {checkout} (rc {out.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(q):
    return " / ".join(f"{x:.0f}" if abs(x) >= 1000 else f"{x:.3f}" for x in q)


def summarize(pairs, metrics):
    print(f"{'metric':<12} {'parent q1 / median / q3':>26} "
          f"{'change q1 / median / q3':>26} {'won':>6}  claim")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["metrics"][name]["value"] for p in pairs]
        chg = [p["change"]["metrics"][name]["value"] for p in pairs]
        won = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        pq, cq = quartiles(par), quartiles(chg)
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        claim = won >= 0.9 * len(pairs) and gap > pq[2] - pq[0]
        print(f"{name:<12} {fmt(pq):>26} {fmt(cq):>26} "
              f"{won:>3}/{len(pairs):<2}  {'yes' if claim else 'no'}")


def ledger(workload, seed, seconds):
    """One traced run per side, then the ledger diff parent -> change."""
    kept = {}
    for side, checkout in (("parent", PARENT), ("change", ROOT)):
        r = run_once(checkout, workload, seed, seconds, trace=1)
        print(f"[ab_pairs] traced {side} seed {seed}: failed {r['failed']}",
              file=sys.stderr, flush=True)
        trace = os.path.join(checkout, ".bench_build", "traces",
                             f"{workload}-seed{seed}-trace1.json")
        kept[side] = os.path.join(AB, f"{workload}-seed{seed}-{side}.json")
        shutil.copyfile(trace, kept[side])
    subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "ledger_diff.py"),
                    kept["parent"], kept["change"]], check=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--parent", required=True, help="git ref of the parent side")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--ledger", action="store_true",
                    help="one traced run per side and their ledger diff")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    rev = parent_checkout(a.parent)
    if a.ledger:
        return ledger(a.workload, a.seed, seconds)
    pairs = []
    for i in range(a.pairs):
        seed = a.seed + i
        order = [("parent", PARENT), ("change", ROOT)]
        if i % 2:
            order.reverse()
        pair = {"seed": seed}
        for side, checkout in order:
            pair[side] = r = run_once(checkout, a.workload, seed, seconds)
            print(f"[ab_pairs] pair {i + 1}/{a.pairs} seed {seed} {side}: "
                  f"run_s {r['metrics']['run_s']['value']:.3f} failed {r['failed']}",
                  file=sys.stderr, flush=True)
        pairs.append(pair)
    out = os.path.join(AB, f"{a.workload}-pairs.json")
    with open(out, "w") as f:
        json.dump({"workload": a.workload, "parent": rev, "seconds": seconds,
                   "pairs": pairs}, f, indent=1)
    failed = sum(p[s]["failed"] for p in pairs for s in ("parent", "change"))
    print(f"{a.workload}: {a.pairs} pairs, parent {rev[:12]} vs working tree, "
          f"{seconds:g} s runs, failed operations {failed}; raw results in {out}")
    summarize(pairs, bench["end_to_end"])


if __name__ == "__main__":
    main()
