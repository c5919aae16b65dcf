#!/usr/bin/env python3
"""Summarize the spans of a traced benchmark run, or compare two runs.

    python3 tools/spans.py [--workload serve] [--phase loop] [--json] [PATH]
    python3 tools/spans.py [--phase loop] [--json] A B

PATH defaults to .bench_build/work/<workload>/spans.jsonl under the
repository root: the file `perfbench/run.py --workload <workload>
--trace 1` writes, one JSON span per line. For each call kind
(`layer.name`) and phase (setup, warmup, loop, after) it prints the
number of spans and the median wall time, task time, jobs, stages,
tasks, shuffle bytes and input bytes, as a table or, with --json, as one
JSON object. `task_ms` is the executor run time summed over the span's
tasks, next to the wall time `p50_ms`: on a call whose tasks run one
after another or in parallel on few cores, the gap between the two is
the time no task accounts for (driver-side analysis, planning,
scheduling and result handling). `shuffle_bytes` is the shuffle write
side, the figure the benchmark reports as `store.<call>.shuffle_bytes`.

With two paths, A (say the parent's run) and B (the change's), it prints
one row per call kind and phase found in either run: span counts and
the median ms, task ms, jobs and shuffle bytes as `A -> B`, the before/after
table of a performance change in one command.
"""
import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PHASES = ["setup", "warmup", "loop", "after"]
FIELDS = [("p50_ms", None), ("task_ms", "task_ms"), ("jobs", "jobs"), ("stages", "stages"),
          ("tasks", "tasks"), ("shuffle_bytes", "shuffle_write_bytes"),
          ("input_bytes", "input_bytes")]
COMPARED = ["n", "p50_ms", "task_ms", "jobs", "shuffle_bytes"]


def load(path):
    with open(path) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]
    # a span still open when the run ended has end_ns 0: no figures
    return [s for s in spans if s["end_ns"] > 0]


def summarize(spans, phase=None):
    groups = {}
    for s in spans:
        if phase is None or s["phase"] == phase:
            groups.setdefault((f"{s['layer']}.{s['name']}", s["phase"]), []).append(s)
    order = {p: i for i, p in enumerate(PHASES)}
    rows = []
    for (call, ph), ss in sorted(groups.items(),
                                 key=lambda kv: (order.get(kv[0][1], len(PHASES)),
                                                 kv[0][1], kv[0][0])):
        row = {"call": call, "phase": ph, "n": len(ss)}
        for name, key in FIELDS:
            vals = [(s["end_ns"] - s["start_ns"]) / 1e6 if key is None else s[key]
                    for s in ss]
            row[name] = statistics.median(vals)
        rows.append(row)
    return rows


def compare(a_rows, b_rows):
    """Rows of A and B joined on (call, phase); a side without the call is None."""
    a = {(r["call"], r["phase"]): r for r in a_rows}
    b = {(r["call"], r["phase"]): r for r in b_rows}
    order = {p: i for i, p in enumerate(PHASES)}
    keys = sorted(set(a) | set(b),
                  key=lambda k: (order.get(k[1], len(PHASES)), k[1], k[0]))
    return [{"call": call, "phase": ph,
             **{f: [side[(call, ph)][f] if (call, ph) in side else None
                    for side in (a, b)] for f in COMPARED}}
            for call, ph in keys]


def num(v):
    return f"{v:.1f}".rstrip("0").rstrip(".")


def compare_table(rows):
    def pair(f, ab):
        return " -> ".join("-" if v is None else
                           f"{v:.0f}" if f in ("p50_ms", "task_ms") else num(v)
                           for v in ab)
    head = ["call", "phase"] + COMPARED
    cells = [[r["call"], r["phase"]] + [pair(f, r[f]) for f in COMPARED] for r in rows]
    return grid(head, cells)


def grid(head, cells):
    widths = [max(len(x) for x in col) for col in zip(head, *cells)]
    lines = ["| " + " | ".join(h.ljust(w) for h, w in zip(head, widths)) + " |",
             "|" + "|".join("-" * (w + 2) for w in widths) + "|"]
    lines += ["| " + " | ".join(c.ljust(w) for c, w in zip(row, widths)) + " |"
              for row in cells]
    return "\n".join(lines)


def table(rows):
    head = ["call", "phase", "n"] + [name for name, _ in FIELDS]
    cells = [[r["call"], r["phase"], str(r["n"]), f"{r['p50_ms']:.0f}",
              f"{r['task_ms']:.0f}"] +
             [num(r[name]) for name, _ in FIELDS[2:]] for r in rows]
    return grid(head, cells)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("path", nargs="*",
                    help="spans.jsonl of a traced run; two paths compare A -> B")
    ap.add_argument("--workload", default="serve",
                    help="workload whose default spans file to read (default serve)")
    ap.add_argument("--phase", choices=PHASES, help="keep only spans of this phase")
    ap.add_argument("--json", action="store_true", help="print JSON instead of a table")
    a = ap.parse_args()
    if len(a.path) > 2:
        ap.error("at most two paths")
    paths = a.path or [os.path.join(ROOT, ".bench_build", "work", a.workload, "spans.jsonl")]
    for path in paths:
        if not os.path.exists(path):
            sys.exit(f"spans.py: no spans at {path} (run perfbench/run.py with --trace 1)")
    runs = [summarize(load(path), a.phase) for path in paths]
    if len(runs) == 2:
        rows = compare(*runs)
        print(json.dumps({"a": paths[0], "b": paths[1], "calls": rows}) if a.json
              else compare_table(rows))
    else:
        print(json.dumps({"spans": paths[0], "calls": runs[0]}) if a.json
              else table(runs[0]))


if __name__ == "__main__":
    main()
