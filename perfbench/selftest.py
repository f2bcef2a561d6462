#!/usr/bin/env python3
"""The benchmark's own test: a corrupted expected answer must raise the
error rate. Runs etl clean and corrupted, and lake corrupted, for one block
each, and fails unless the clean run has no failed operation and every
corrupted run reports failures.

    python3 perfbench/selftest.py
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, corrupt):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", "0", "--corrupt", str(corrupt)]
    p = subprocess.run(cmd, cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    assert p.returncode == 0, f"{workload} corrupt={corrupt}: exit {p.returncode}"
    r = json.loads(p.stdout.strip().splitlines()[-1])
    print(f"{workload} corrupt={corrupt}: correct={r['correct']} failed={r['failed']}/{r['attempted']}")
    return r


def main():
    clean = run("etl", 0)
    assert clean["correct"] and clean["failed"] == 0, "clean etl run reported failures"
    for wl in ("etl", "lake"):
        bad = run(wl, 1)
        assert not bad["correct"] and bad["failed"] > 0, f"corrupted {wl} answers went unnoticed"
    print("selftest passed")


if __name__ == "__main__":
    main()
