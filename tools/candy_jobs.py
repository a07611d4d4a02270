#!/usr/bin/env python3
"""Spark jobs, stages, tasks and input bytes per top-level span of a
traced candy_batch run.

A traced run (`perfbench/run.py --workload candy_batch --seed N
--trace 1`) keeps its span dump at
`$CARGO_TARGET_DIR/traces/candy_batch-<seed>.jsonl` (default build dir
`.bench_build`). Each line is one span with its own counters; this
script adds every nested span's counters into its top-level span.

Usage:
  python3 tools/candy_jobs.py <seed>            # reads the default path
  python3 tools/candy_jobs.py <spans.jsonl>     # reads that file
"""
import json
import os
import sys

COLUMNS = ("jobs", "stages", "tasks", "input_bytes")


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def per_root(spans):
    """(name, seconds, {counter: total}) per top-level span, in order."""
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
        return s["id"]

    totals = {}
    for s in spans:
        t = totals.setdefault(root(s), dict.fromkeys(COLUMNS, 0.0))
        for c in COLUMNS:
            t[c] += s.get(c, 0.0)
    return [(s["name"], s["end_s"] - s["start_s"], totals[s["id"]])
            for s in spans if s["parent"] < 0]


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    path = argv[1]
    if not os.path.isfile(path):
        build = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
        path = os.path.join(build, "traces", f"candy_batch-{argv[1]}.jsonl")
    rows = per_root(load(path))
    width = max([len("span")] + [len(n) for n, _, _ in rows])
    print(f"{'span':<{width}} {'seconds':>8} {'jobs':>5} {'stages':>6} "
          f"{'tasks':>6} {'input_MB':>9}")
    for name, secs, t in rows:
        print(f"{name:<{width}} {secs:>8.2f} {t['jobs']:>5.0f} {t['stages']:>6.0f} "
              f"{t['tasks']:>6.0f} {t['input_bytes'] / 1e6:>9.3f}")


if __name__ == "__main__":
    main(sys.argv)
