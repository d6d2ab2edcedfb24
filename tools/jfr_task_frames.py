#!/usr/bin/env python3
"""Attribute the task-thread CPU samples of a JFR recording of a Spark JVM.

Reads the JSON that `jfr print --json --stack-depth 300` writes (the
default depth of 5 frames hides every caller), keeps the
`jdk.ExecutionSample` events of Spark's task threads ("Executor task
launch worker ...") inside a time window, and prints how many there are,
how many have each `--grep` substring somewhere in their stack, and the
top leaf and inclusive frames.

The window is bounded by the fan-out sink threads
`fanout-<sink>-<batchId>` that `IngestStream.startFanout` starts for
every micro-batch, from their `jdk.ThreadStart` / `jdk.ThreadEnd` events:
  --side inside  from the first one's start to the last one's end
                 (the delivery loop of `perfbench` `ingest_live`);
  --side after   from the last one's end to the end of the recording
                 (`perfbench` `catalog_sql`, whose sinks are written in
                 set-up, before its query loop).

    jfr print --json --stack-depth 300 \
        --events jdk.ExecutionSample,jdk.ThreadStart,jdk.ThreadEnd rec.jfr > rec.json
    python3 tools/jfr_task_frames.py rec.json --side inside
"""
import argparse
import collections
import json
import re
import sys
from datetime import datetime, timezone

BOUND = r"fanout-.+-\d+$"
TOP = 15


def nanos(ts):
    """ISO-8601 UTC instant, with a fraction of any length, to epoch ns."""
    base, _, frac = ts.rstrip("Z").partition(".")
    secs = datetime.strptime(base, "%Y-%m-%dT%H:%M:%S").replace(tzinfo=timezone.utc)
    return int(secs.timestamp()) * 10**9 + int((frac + "0" * 9)[:9])


def frame_name(f):
    return f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("json", help="output of jfr print --json")
    ap.add_argument("--side", choices=("inside", "after"), default="inside")
    ap.add_argument("--grep", action="append", default=[], metavar="LABEL=SUBSTRING",
                    help="count samples with SUBSTRING in a frame (repeatable)")
    a = ap.parse_args()
    greps = [g.split("=", 1) for g in a.grep] or [
        ["janino", "org.codehaus."], ["class_load", "java.lang.ClassLoader.loadClass"],
        ["executor_loader", "ExecutorClassLoader"], ["unbase64_valid", "isValidBase64"]]

    with open(a.json) as fh:
        events = json.load(fh)["recording"]["events"]
    bound = re.compile(BOUND)
    starts, ends, samples = [], [], []
    last = 0
    for e in events:
        v = e["values"]
        t = nanos(v["startTime"])
        last = max(last, t)
        if e["type"] in ("jdk.ThreadStart", "jdk.ThreadEnd"):
            name = (v.get("thread") or {}).get("javaName") or ""
            if bound.search(name):
                (starts if e["type"] == "jdk.ThreadStart" else ends).append(t)
        elif e["type"] == "jdk.ExecutionSample":
            name = (v.get("sampledThread") or {}).get("javaName") or ""
            if name.startswith("Executor task launch worker"):
                frames = [frame_name(f) for f in (v.get("stackTrace") or {}).get("frames", [])]
                samples.append((t, frames))
    if not starts:
        sys.exit(f"no thread matches {BOUND!r}: record jdk.ThreadStart and jdk.ThreadEnd")
    lo, hi = ((min(starts), max(ends or starts)) if a.side == "inside"
              else (max(ends or starts), last))
    inside = [f for t, f in samples if lo <= t <= hi]
    n = len(inside)
    print(f"window {a.side} {BOUND!r}: {(hi - lo) / 1e9:.2f} s, "
          f"{len(starts)} bounding threads, {n} task-thread samples")
    if not n:
        return
    for label, sub in greps:
        k = sum(1 for f in inside if any(sub in x for x in f))
        print(f"  {label:<22} {k:>5}  {k / n:6.1%}  ({sub})")
    leaf = collections.Counter(f[0] for f in inside if f)
    incl = collections.Counter(x for f in inside for x in set(f))
    print("top leaf frames:")
    for m, k in leaf.most_common(TOP):
        print(f"  {k:>5}  {k / n:6.1%}  {m}")
    print("top inclusive frames (below 90% of samples):")
    for m, k in [(m, k) for m, k in incl.most_common() if k < 0.9 * n][:TOP]:
        print(f"  {k:>5}  {k / n:6.1%}  {m}")


if __name__ == "__main__":
    main()
