#!/usr/bin/env python3
"""Spark jobs per span of a traced perfbench run.

A traced run (`perfbench/run.py --workload W --seed N --trace 1`) keeps
its span dump at `$CARGO_TARGET_DIR/traces/<W>-<seed>.jsonl` (default
build dir `.bench_build`). Each line is one span with its own counters.

For candy_batch, this script adds every nested span's counters into its
top-level span and prints seconds, jobs, stages, tasks and input bytes
per top-level span. For query_mix, it prints per timed query the
fastest `construct` and `action` spans over the passes, with the jobs
each of those two spans ran (a query's construct jobs run before its
action, e.g. schema inference or a sketch built at construction).

Usage:
  python3 tools/candy_jobs.py <seed>              # candy_batch-<seed>.jsonl
  python3 tools/candy_jobs.py query_mix <seed>    # query_mix-<seed>.jsonl
  python3 tools/candy_jobs.py <spans.jsonl>       # either kind of dump
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


def per_query(spans):
    """(query, (construct_s, jobs), (action_s, jobs), passes) per root span
    with construct and action children, from the fastest of each over the
    root's passes, in first-seen order."""
    kids = {}
    for s in spans:
        if s["parent"] >= 0:
            kids.setdefault(s["parent"], {})[s["name"]] = s
    passes = {}
    for s in spans:
        k = kids.get(s["id"], {})
        if s["parent"] < 0 and "construct" in k and "action" in k:
            passes.setdefault(s["name"], []).append((k["construct"], k["action"]))

    def fastest(part):
        s = min(part, key=lambda x: x["end_s"] - x["start_s"])
        return s["end_s"] - s["start_s"], s.get("jobs", 0.0)

    return [(q, fastest([c for c, _ in ps]), fastest([a for _, a in ps]), len(ps))
            for q, ps in passes.items()]


def print_queries(rows):
    width = max([len("query")] + [len(q) for q, *_ in rows])
    print(f"{'query':<{width}} {'construct_s':>11} {'jobs':>5} "
          f"{'action_s':>9} {'jobs':>5} {'passes':>6}")
    for q, (cs, cj), (acs, aj), n in rows:
        print(f"{q:<{width}} {cs:>11.3f} {cj:>5.0f} {acs:>9.3f} {aj:>5.0f} {n:>6}")
    print(f"{'total':<{width}} {sum(r[1][0] for r in rows):>11.3f} "
          f"{sum(r[1][1] for r in rows):>5.0f} {sum(r[2][0] for r in rows):>9.3f} "
          f"{sum(r[2][1] for r in rows):>5.0f}")


def main(argv):
    if len(argv) == 3:
        workload, key = argv[1], argv[2]
    elif len(argv) == 2:
        workload, key = "candy_batch", argv[1]
    else:
        sys.exit(__doc__)
    path = key
    if not os.path.isfile(path):
        build = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
        path = os.path.join(build, "traces", f"{workload}-{key}.jsonl")
    spans = load(path)
    queries = per_query(spans)
    if queries:
        print_queries(queries)
        return
    rows = per_root(spans)
    width = max([len("span")] + [len(n) for n, _, _ in rows])
    print(f"{'span':<{width}} {'seconds':>8} {'jobs':>5} {'stages':>6} "
          f"{'tasks':>6} {'input_MB':>9}")
    for name, secs, t in rows:
        print(f"{name:<{width}} {secs:>8.2f} {t['jobs']:>5.0f} {t['stages']:>6.0f} "
              f"{t['tasks']:>6.0f} {t['input_bytes'] / 1e6:>9.3f}")


if __name__ == "__main__":
    main(sys.argv)
