#!/usr/bin/env python3
"""Summarize a Java Flight Recorder recording of a streaming run.

Usage: python3 tools/jfr_stream.py <recording.jfr>

Record one untraced stream_replay run first (see README, "Local filesystem
without child processes"), then this prints three things:

  1. the number of `jdk.ProcessStart` events (child processes the JVM forked);
  2. executor-thread `jdk.ExecutionSample`s whose stack holds one of
     `ScalaReflection` (encoder derivation), `RocksDB.commit` (state commit)
     or `Configuration.readFields` (Hadoop conf deserialization), with the
     time of the first and last such sample, in seconds after the
     recording's first execution sample;
  3. the total ms of `jdk.ThreadPark` and `jdk.JavaMonitorWait` events whose
     stack holds `JavaMirrors.runtimeMirror` (threads waiting on the Scala
     reflection universe's lock).

Only the `jfr` tool of the JDK and the Python standard library are used.
`jfr print` output is read line by line, so a large recording is never
held in memory.
"""
import re
import subprocess
import sys
from datetime import datetime

EXECUTOR = "Executor task launch worker"
SAMPLE_MARKERS = {
    "ScalaReflection": re.compile(r"\.ScalaReflection\$?\."),
    "RocksDB.commit": re.compile(r"\.state\.RocksDB\.commit\("),
    "Configuration.readFields": re.compile(r"\.Configuration\.readFields\("),
}
MIRROR = re.compile(r"scala\.reflect\.runtime\.Java(Mirrors|Universe)\S*\.runtimeMirror\$?\(")
UNITS_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "min": 6e4, "h": 3.6e6}


def jfr(*args):
    """Yield the stdout lines of `jfr <args>`; fail loudly on a bad exit."""
    p = subprocess.Popen(["jfr", *args], stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    yield from p.stdout
    if p.wait() != 0:
        sys.exit(f"jfr {' '.join(args)} exited {p.returncode}")


def events(path, names):
    """Yield (event name, {field: text}, [stack frame lines]) per event."""
    name, fields, frames, in_stack = None, {}, [], False
    for line in jfr("print", "--stack-depth", "128", "--events", ",".join(names), path):
        s = line.strip()
        if name is None:
            if s.endswith("{") and s.split()[0] in names:
                name, fields, frames, in_stack = s.split()[0], {}, [], False
        elif in_stack:
            if s == "]":
                in_stack = False
            else:
                frames.append(s)
        elif s == "}":
            yield name, fields, frames
            name = None
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif " = " in s:
            k, v = s.split(" = ", 1)
            fields[k] = v


def duration_ms(text):
    m = re.match(r"([\d.]+)\s*([a-z]+)", text)
    return float(m.group(1)) * UNITS_MS[m.group(2)] if m and m.group(2) in UNITS_MS else 0.0


def start_time(text):
    """'16:21:33.123 (2026-10-19)' → datetime, or None."""
    m = re.match(r"(\d+:\d+:\d+(?:\.\d+)?) \((\d{4}-\d{2}-\d{2})\)", text)
    if not m:
        return None
    hms = m.group(1) if "." in m.group(1) else m.group(1) + ".0"
    return datetime.strptime(f"{m.group(2)} {hms}", "%Y-%m-%d %H:%M:%S.%f")


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    path = sys.argv[1]

    process_starts = 0
    for line in jfr("summary", path):
        parts = line.split()
        if parts and parts[0] == "jdk.ProcessStart":
            process_starts = int(parts[1])
    print(f"process starts: {process_starts}")

    t0, hits, first, last = None, {k: 0 for k in SAMPLE_MARKERS}, {}, {}
    executor_samples = 0
    for _, f, frames in events(path, ["jdk.ExecutionSample"]):
        t = start_time(f.get("startTime", ""))
        if t is not None and (t0 is None or t < t0):
            t0 = t
        if EXECUTOR not in f.get("sampledThread", ""):
            continue
        executor_samples += 1
        for k, rx in SAMPLE_MARKERS.items():
            if any(rx.search(fr) for fr in frames):
                hits[k] += 1
                if t is not None:
                    first[k] = min(first.get(k, t), t)
                    last[k] = max(last.get(k, t), t)
    print(f"executor-thread execution samples: {executor_samples}")
    for k, n in hits.items():
        span = ""
        if n and t0 is not None and k in first:
            span = (f" (first at {(first[k] - t0).total_seconds():.1f} s, "
                    f"last at {(last[k] - t0).total_seconds():.1f} s)")
        print(f"  with {k}: {n}{span}")

    waits = {"jdk.ThreadPark": [0, 0.0], "jdk.JavaMonitorWait": [0, 0.0]}
    for name, f, frames in events(path, list(waits)):
        if any(MIRROR.search(fr) for fr in frames):
            waits[name][0] += 1
            waits[name][1] += duration_ms(f.get("duration", ""))
    for name, (n, ms) in waits.items():
        print(f"{name} under JavaMirrors.runtimeMirror: {n} events, {ms:.0f} ms")


if __name__ == "__main__":
    main()
