#!/usr/bin/env python3
"""Compare the work counters of two traced runs, op by op.

    python3 perfbench/compare_traces.py A.json B.json

A and B are trace files written by ``run.py --trace 1`` (under
``.perfbench/traces/``). Runs with the same seed replay the same op
sequence, so every host-independent counter should agree per op. The
script prints, for each counter, how many of the common ops differ, and
exits 1 if any counter outside ``KNOWN_VARIABLE`` does.
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict

# Counters measured to differ between same-seed runs (see README.md):
# how many classes an op compiles, rather than finds in Spark's codegen
# cache, depends on more than the op sequence.
KNOWN_VARIABLE = {"codegen.compiles"}

SPAN_COUNTERS = {
    "build": ("jobs",),
    "tbl": ("jobs",),
    "exec": ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes"),
    "maint.init": ("jobs",),
    "maint.insert": ("jobs", "stages", "tasks"),
    "maint.read": ("jobs",),
    "plans.run": ("jobs", "stages", "tasks"),
    "serve.dispatch": ("jobs",),
}


def per_op(path: str) -> tuple[list[str], dict[int, dict[str, float]]]:
    with open(path) as fh:
        trace = json.load(fh)
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in trace["spans"]:
        if s["op"] is None:
            continue
        if s["name"] == "op" and "codegen_compiles" in s["counters"]:
            out[s["op"]]["codegen.compiles"] += s["counters"]["codegen_compiles"]
        for key in SPAN_COUNTERS.get(s["name"], ()):
            out[s["op"]][f"{s['name']}.{key}"] += s["counters"].get(key, 0)
    return trace["meta"]["kinds"], out


def main(a: str, b: str) -> int:
    kinds_a, ops_a = per_op(a)
    kinds_b, ops_b = per_op(b)
    n = min(len(kinds_a), len(kinds_b))
    if kinds_a[:n] != kinds_b[:n]:
        print("the two runs did not replay the same op sequence")
        return 1
    differ: dict[str, list[int]] = defaultdict(list)
    names: set[str] = set()
    for i in range(n):
        x, y = ops_a.get(i, {}), ops_b.get(i, {})
        for k in set(x) | set(y):
            names.add(k)
            if x.get(k, 0) != y.get(k, 0):
                differ[k].append(i)
    for k in sorted(names):
        ex = differ[k][:3]
        print(f"{k:32s} {len(differ[k]):3d}/{n} ops differ" + (
            f"  e.g. op {ex[0]} ({kinds_a[ex[0]]}): {ops_a[ex[0]].get(k, 0)} vs {ops_b[ex[0]].get(k, 0)}"
            if ex else ""))
    unexpected = [k for k in differ if differ[k] and k not in KNOWN_VARIABLE]
    return 1 if unexpected else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
