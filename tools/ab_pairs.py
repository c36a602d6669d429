#!/usr/bin/env python3
"""Paired A/B of the bench of record between two checkouts.

Runs `perfbench/run.py` alternately from a parent checkout and a change
checkout (for example made with `git worktree add`), with the same fresh
seed on both sides of each pair, and alternates which side runs first.
For each end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, the median difference against the parent's interquartile
range, and the fraction of pairs the change won (ties count for neither).
A gain is claimed only when the change wins at least 9 in 10 pairs and the
medians differ by more than the parent's IQR.

    python3 tools/ab_pairs.py <parent-checkout> <change-checkout> \\
        --workload etl_ingest --pairs 10 [--seed0 401]

It only reads what the benchmark prints: it edits nothing under
perfbench/ and never touches BENCHMARK.json. Run it from anywhere; each
side runs from the root of its own checkout. The first run in a checkout
builds its harness.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        sys.exit(f"ab_pairs: {checkout}: run.py exited {p.returncode} (seed {seed})")
    return json.loads(lines[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=401,
                    help="seed of the first pair; pair i uses seed0 + i")
    a = ap.parse_args()
    if a.pairs < 2:
        sys.exit("ab_pairs: --pairs must be at least 2")
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    metrics = spec["end_to_end"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}

    runs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            r = run(sides[side], a.workload, seed, spec["run_seconds"])
            pair[side] = r
        runs.append(pair)
        print(f"pair {i + 1}/{a.pairs} seed {seed} ({order[0]} first): " + "  ".join(
            f"{m['name']} {pair['parent']['metrics'][m['name']]['value']:.4g} -> "
            f"{pair['change']['metrics'][m['name']]['value']:.4g}" for m in metrics),
            flush=True)

    print(f"\n{a.workload}: {a.pairs} pairs, seeds {a.seed0}..{a.seed0 + a.pairs - 1}")
    for side in sides:
        bad = [p["seed"] for p in runs
               if not p[side]["correct"] or p[side]["failed"] > 0]
        att = sum(p[side]["attempted"] for p in runs)
        fail = sum(p[side]["failed"] for p in runs)
        print(f"  {side}: {fail}/{att} operations failed; incorrect runs: {bad or 'none'}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [p[s]["metrics"][name]["value"] for p in runs] for s in sides}
        wins = sum(1 for p, c in zip(vals["parent"], vals["change"])
                   if (c < p if lower else c > p))
        pq, cq = quartiles(vals["parent"]), quartiles(vals["change"])
        iqr = pq[2] - pq[0]
        diff = cq[1] - pq[1]
        better = -diff if lower else diff
        gain = wins >= 0.9 * a.pairs and better > iqr
        worse = -better / pq[1] if pq[1] else 0.0
        verdict = ("gain" if gain else
                   f"worse by {worse:.1%} (bound {m['bound']:.0%})" if worse > 0 else
                   "no claimed gain, not worse")
        print(f"  {name} ({m['unit']}, {m['better']} is better):")
        print(f"    parent median {pq[1]:.4g}  q1 {pq[0]:.4g}  q3 {pq[2]:.4g}  IQR {iqr:.4g}")
        print(f"    change median {cq[1]:.4g}  q1 {cq[0]:.4g}  q3 {cq[2]:.4g}")
        print(f"    median change {diff:+.4g} ({diff / pq[1]:+.1%}); change won "
              f"{wins}/{a.pairs} pairs -> {verdict}")


if __name__ == "__main__":
    main()
