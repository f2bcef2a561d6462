#!/usr/bin/env python3
"""Split each operation of a perfbench span file into driver and job time.

Usage: python3 tools/spans.py SPANS.jsonl [--ops] [--name OP]

A span file is what `perfbench/run.py --trace 1` writes to
`.bench_build/spans/<workload>-seed<n>.jsonl`: one JSON object per line with
`id`, `parent` (-1 for an operation), `kind` (op, layer, job or stage),
`name`, `start_ms` and `dur_ms`. Jobs hang under the layer call that started
them, or under the operation itself.

For every operation this computes:
  wall     the operation's span;
  jobs     the Spark jobs started inside it;
  before   driver time from the operation's start to its first job;
  job      the union of its jobs' intervals;
  gap      time between its first and last job that no job covers;
  after    driver time from its last job's end to the operation's end.
An operation without jobs is all `before`. wall = before + job + gap + after.

By default it prints one row per operation name: the count and the median of
each figure, jobs as min-max. `--ops` prints every operation instead, and
`--name` keeps only operations of that name.
"""
import argparse
import json
import statistics
import sys


def load(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def split_ops(spans):
    """One dict of figures per op span, in file order."""
    by_id = {s["id"]: s for s in spans}

    def op_of(s):
        while s["parent"] != -1:
            s = by_id[s["parent"]]
        return s["id"]

    jobs = {}
    for s in spans:
        if s["kind"] == "job":
            jobs.setdefault(op_of(s), []).append((s["start_ms"], s["start_ms"] + s["dur_ms"]))
    out = []
    for s in spans:
        if s["kind"] != "op":
            continue
        t0, t1 = s["start_ms"], s["start_ms"] + s["dur_ms"]
        iv = sorted(jobs.get(s["id"], []))
        union = []
        for a, b in iv:
            if union and a <= union[-1][1]:
                union[-1][1] = max(union[-1][1], b)
            else:
                union.append([a, b])
        job = sum(b - a for a, b in union)
        if union:
            before, after = union[0][0] - t0, t1 - union[-1][1]
            gap = (union[-1][1] - union[0][0]) - job
        else:
            before, after, gap = t1 - t0, 0.0, 0.0
        out.append({"name": s["name"], "start": t0, "wall": t1 - t0, "jobs": len(iv),
                    "before": before, "job": job, "gap": gap, "after": after})
    return out


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("spans")
    ap.add_argument("--ops", action="store_true", help="one row per operation")
    ap.add_argument("--name", help="only operations of this name")
    a = ap.parse_args(argv)
    ops = [o for o in split_ops(load(a.spans)) if a.name is None or o["name"] == a.name]
    cols = ("wall", "before", "job", "gap", "after")
    if a.ops:
        print(f"{'op':<16} {'start_ms':>10} {'jobs':>5} " + " ".join(f"{c + '_ms':>10}" for c in cols))
        for o in ops:
            print(f"{o['name']:<16} {o['start']:>10.1f} {o['jobs']:>5} "
                  + " ".join(f"{o[c]:>10.1f}" for c in cols))
        return 0
    print(f"{'op':<16} {'n':>4} {'jobs':>7} " + " ".join(f"{c + '_p50':>10}" for c in cols))
    names = sorted({o["name"] for o in ops})
    for n in names:
        g = [o for o in ops if o["name"] == n]
        js = [o["jobs"] for o in g]
        jobs = f"{min(js)}-{max(js)}" if min(js) != max(js) else str(js[0])
        print(f"{n:<16} {len(g):>4} {jobs:>7} "
              + " ".join(f"{statistics.median(o[c] for o in g):>10.1f}" for c in cols))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
