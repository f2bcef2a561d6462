#!/usr/bin/env python3
"""Steadiness check: runs the benchmark on several seeds, one run at a time,
and prints each end-to-end metric's median and its spread, the
interquartile range as a share of the median, next to its bound.

    python3 perfbench/spread.py --workloads etl,lake --seeds 1-10 [--out runs.json]
    python3 perfbench/spread.py --compare first.json second.json

--compare reads two --out files and prints, per metric, how far the second
median moved from the first, as a share of the first, against the bound
(positive = worse).
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    print(f"{workload} seed={seed} wall={wall:.1f}s correct={result['correct']} "
          f"failed={result['failed']}/{result['attempted']}", flush=True)
    return {"wall_s": wall, **result}


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def report(runs, metrics):
    for wl, rs in runs.items():
        print(f"== {wl}: {len(rs)} runs, wall {statistics.median(r['wall_s'] for r in rs):.1f}s median")
        for m in metrics:
            vals = [r["metrics"][m["name"]]["value"] for r in rs]
            med, sp = spread(vals)
            flag = "" if sp < m["bound"] / 3 else ("  > bound/3" if sp < m["bound"] else "  > BOUND")
            print(f"  {m['name']:<20} median {med:14.4f}  spread {sp:7.4f}  bound {m['bound']:.2f}{flag}")


def compare(a, b, metrics):
    for wl in a:
        print(f"== {wl}")
        for m in metrics:
            ma = statistics.median(r["metrics"][m["name"]]["value"] for r in a[wl])
            mb = statistics.median(r["metrics"][m["name"]]["value"] for r in b[wl])
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            flag = "  > BOUND" if worse > m["bound"] else ""
            print(f"  {m['name']:<20} {ma:14.4f} -> {mb:14.4f}  worse by {worse:+.4f}  bound {m['bound']:.2f}{flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    s = spec()
    if a.compare:
        loaded = []
        for path in a.compare:
            with open(path) as f:
                loaded.append(json.load(f))
        compare(loaded[0], loaded[1], s["end_to_end"])
        return
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in s["workloads"]]
    runs = {wl: [run(wl, n, a.seconds or s["run_seconds"]) for n in seeds(a.seeds)] for wl in workloads}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f)
    report(runs, s["end_to_end"])


if __name__ == "__main__":
    main()
