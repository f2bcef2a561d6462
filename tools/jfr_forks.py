#!/usr/bin/env python3
"""Count the processes a JVM started, by thread and by engine caller.

Usage: python3 tools/jfr_forks.py RECORDING.jfr [--top N]

Reads the `jdk.ProcessStart` events of a Java Flight Recorder file (through
the JDK's `jfr print --json`) and prints:
  - the total;
  - the count per thread kind (`main`, `executor task`, or the thread's
    name with its numbers dropped);
  - the count per (caller, via, file-system call, program): `caller` is the
    innermost stack frame in the engine (`graft.`) or the benchmark
    (`perfbench.`), `via` the innermost frame outside the JDK and Hadoop's
    file-system classes (a committer, parquet's file writer...), and the
    file-system call the outermost `org.apache.hadoop.fs` frame. The
    `--top` most frequent rows are printed.

Record a run with the JDK's own flag, which needs no change to the program:

  JAVA_TOOL_OPTIONS='-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile' \\
    python3 perfbench/run.py --workload lake --seed 1 --trace 0

`jdk.ProcessStart` is on in the `default` and `profile` settings (JDK 17+).
A local Hadoop file system without its native library starts one `chmod`
process per file it creates and per directory it makes; this counts them.
"""
import argparse
import collections
import json
import re
import subprocess
import sys


def frame_name(frame):
    method = frame.get("method", {})
    cls = method.get("type", {}).get("name", "?").replace("/", ".")
    return cls + "." + method.get("name", "?")


def thread_kind(event):
    thread = event["values"].get("eventThread") or {}
    name = thread.get("javaName") or thread.get("osName") or "?"
    if name.startswith("Executor task launch worker"):
        return "executor task"
    return re.sub(r"[-#\s]*\d+", "", name) or name


def classify(event):
    frames = [frame_name(f) for f in (event["values"].get("stackTrace") or {}).get("frames", [])]
    caller = next((f for f in frames if f.startswith(("graft.", "perfbench."))), "-")
    outside = ("java.", "jdk.", "sun.", "org.apache.hadoop.fs.", "org.apache.hadoop.util.Shell")
    via = next((f for f in frames if not f.startswith(outside)), "-")
    fs_calls = [f for f in frames if f.startswith("org.apache.hadoop.fs.")]
    fs_call = fs_calls[-1].rsplit(".", 2)[-2] + "." + fs_calls[-1].rsplit(".", 1)[-1] if fs_calls else "-"
    command = event["values"].get("command") or ""
    program = command.split()[0].rsplit("/", 1)[-1] if command else "?"
    return caller, via, fs_call, program


def load(path):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64", "--events", "jdk.ProcessStart", path],
                         check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=25)
    args = ap.parse_args(argv)
    events = load(args.recording)
    print(f"process starts: {len(events)}")
    print("\nby thread:")
    for kind, n in collections.Counter(thread_kind(e) for e in events).most_common():
        print(f"  {n:6d}  {kind}")
    print(f"\nby caller / via / file-system call / program (top {args.top}):")
    rows = collections.Counter((thread_kind(e),) + classify(e) for e in events)
    for (kind, caller, via, fs_call, program), n in rows.most_common(args.top):
        print(f"  {n:6d}  [{kind}] {caller}\n          via {via}  {fs_call}  {program}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
