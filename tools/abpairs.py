#!/usr/bin/env python3
"""Alternated A/B pairs of the end-to-end benchmark, and the verdict.

    python3 tools/abpairs.py A_DIR B_DIR --workload W --seeds 31-40 [--seconds 15]

A_DIR is the parent checkout and B_DIR the change. For each seed, one pair:
`perfbench/run.py --trace 0` runs once in each checkout, with the side that
runs first alternating from pair to pair. Every run's JSON result and the
per-call-kind p50 lines it printed on stderr are kept in
B_DIR/.bench_build/abpairs/W, one file per run; a run already there is not
repeated, so an interrupted series resumes.

Printed at the end, per end-to-end metric: each side's median [quartiles],
B's wins out of the pairs (ties count for neither side), and a verdict:
  GAIN HOLDS       B wins at least nine tenths of the pairs, the medians
                   differ by more than the distance between A's quartiles,
                   every B run is correct and B failed no more operations
                   than A in total;
  GAIN WITHHELD    the first two hold but a B run is not correct or B
                   failed more operations than A;
  WORSE BEYOND BOUND  B's median is worse than A's by more than the
                   metric's bound in BENCHMARK.json;
  UNRESOLVED       A's quartiles are further apart than bound x A's median
                   and not every B run reads better than every A run;
  within bound     none of the above.
Then the median over runs of each call kind's p50, per side.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

KIND = re.compile(r"^\[graftbench\]\s+(\S+)\s+n=\s*(\d+)\s+p50=\s*([0-9.]+) ms")


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        sys.exit(f"abpairs: run failed in {checkout} (seed {seed}, exit {p.returncode})")
    kinds = {}
    for line in p.stderr.splitlines():
        m = KIND.match(line)
        if m:
            kinds[m.group(1)] = float(m.group(3))
    return {"result": json.loads(lines[-1]), "kinds": kinds}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a_dir")
    ap.add_argument("b_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="an inclusive range, e.g. 31-40")
    ap.add_argument("--seconds", type=float, default=15)
    a = ap.parse_args()
    out = os.path.join(a.b_dir, ".bench_build", "abpairs", a.workload)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(a.b_dir, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]

    runs = {"A": [], "B": []}
    seeds = seeds_of(a.seeds)
    for i, seed in enumerate(seeds):
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        for side in order:
            path = os.path.join(out, f"{side}_seed{seed}.json")
            if os.path.exists(path):
                with open(path) as fh:
                    rec = json.load(fh)
            else:
                checkout = a.a_dir if side == "A" else a.b_dir
                rec = run_once(checkout, a.workload, seed, a.seconds)
                rec.update(seed=seed, side=side, first=order[0])
                with open(path, "w") as fh:
                    json.dump(rec, fh)
            runs[side].append(rec)
            r = rec["result"]
            print(f"seed {seed} {side}: correct={r['correct']} failed={r['failed']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)

    n = len(seeds)
    print(f"\n{a.workload}: {n} pairs, A = {a.a_dir}, B = {a.b_dir}")
    bad = [f"{r['side']} seed {r['seed']}" for s in runs.values() for r in s
           if not r["result"]["correct"]]
    if bad:
        print("runs not correct: " + ", ".join(bad))
    failed = {s: sum(r["result"]["failed"] for r in runs[s]) for s in runs}
    print(f"failed operations: A {failed['A']}, B {failed['B']}")
    b_sound = all(r["result"]["correct"] for r in runs["B"]) and failed["B"] <= failed["A"]
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        va = [r["result"]["metrics"][name]["value"] for r in runs["A"]]
        vb = [r["result"]["metrics"][name]["value"] for r in runs["B"]]
        wins = sum((b < x) if lower else (b > x) for x, b in zip(va, vb))
        ma, mb = statistics.median(va), statistics.median(vb)
        qa, qb = quartiles(va), quartiles(vb)
        gap = (ma - mb) if lower else (mb - ma)
        gains = wins >= 0.9 * n and gap > qa[1] - qa[0]
        separated = (max(vb) < min(va)) if lower else (min(vb) > max(va))
        verdict = ("GAIN HOLDS" if gains and b_sound else
                   "GAIN WITHHELD" if gains else
                   f"WORSE BEYOND BOUND {m['bound']}" if -gap > m["bound"] * abs(ma) else
                   "UNRESOLVED" if qa[1] - qa[0] > m["bound"] * abs(ma) and not separated else
                   "within bound")
        print(f"{name:<18} A {ma:10.4g} [{qa[0]:.4g}, {qa[1]:.4g}]   "
              f"B {mb:10.4g} [{qb[0]:.4g}, {qb[1]:.4g}]   B wins {wins}/{n}   "
              f"gap {gap:+.4g} vs A IQR {qa[1] - qa[0]:.4g}   {verdict}")
    kinds = sorted({k for s in runs.values() for r in s for k in r["kinds"]})
    if kinds:
        print("\nper-kind p50 ms, median over runs (A -> B):")
        for k in kinds:
            med = {s: statistics.median([r["kinds"][k] for r in runs[s] if k in r["kinds"]] or [0.0])
                   for s in runs}
            print(f"  {k:<16} {med['A']:9.1f} -> {med['B']:9.1f}")


if __name__ == "__main__":
    main()
