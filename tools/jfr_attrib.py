#!/usr/bin/env python3
"""Attribute a JFR recording's CPU samples to thread groups and frames.

    python3 tools/jfr_attrib.py REC.jfr [--threads pool-] [--frame REGEX ...]
    python3 tools/jfr_attrib.py REC.jfr --jit [--after S]

Reads the recording with the JDK's `jfr` tool (on PATH). `jfr print`
cuts every stack to 5 frames unless told otherwise, which hides every
caller; this script asks for 512, so record with
`-XX:FlightRecorderOptions:stackdepth=512` too. Prints:

  - each thread group's share of the execution samples (a group is the
    thread names with their digits replaced by N);
  - for the threads whose name starts with --threads, the inclusive share
    of each named frame (a sample counts once if the frame is anywhere
    on its stack) and how many of those samples are outside a template
    build (no `Prepared.template` frame on the stack);
  - the number and total duration of C2 compilations of >= 100 ms.

Frames are matched as regular expressions, case-insensitively, against
`package.Class.method` with `$` read as `.`.

With --jit it prints instead the JIT compile time by package of the
compiled method, over every `jdk.Compilation` event (both compilers, any
duration), and with --after S only over the compilations that start S
seconds or more after the recording's first one. JFR keeps only the
compilations of >= 1 s by default (`settings=profile`: >= 100 ms), so
record with `jdk.Compilation#threshold=0ms` inside
`-XX:StartFlightRecording=...`, or the table holds a few dozen of the
thousands of compilations.
"""
import argparse
import collections
import datetime
import json
import re
import subprocess
import sys

# name -> regex; the runner's template build is `Prepared.template` (a
# method) or `Prepared$Template.<init>` (a class), not its other methods
FRAMES = {"ClosureCleaner": "ClosureCleaner", "doCodeGen": "doCodeGen",
          "buildReaderWithPartitionValues": "buildReaderWithPartitionValues",
          "InMemoryFileIndex": "InMemoryFileIndex",
          "GenerateUnsafeProjection": "GenerateUnsafeProjection",
          "Configuration.<init>": r"Configuration\.<init>$",
          "SerializationUtil": "SerializationUtil",
          "HttpURLConnection": "HttpURLConnection",
          "Prepared.template": r"Prepared\.template(\.<init>)?$"}
TEMPLATE = "Prepared.template"


def jfr(*args):
    return subprocess.run(["jfr", "print", *args], check=True,
                          capture_output=True, text=True).stdout


def samples(path):
    """(thread name, [frame, ...]) per execution sample, leaf first."""
    thread, frames, in_stack = None, [], False
    for line in jfr("--stack-depth", "512", "--events", "jdk.ExecutionSample",
                    path).splitlines():
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            thread, frames, in_stack = None, [], False
        elif s.startswith("sampledThread = "):
            thread = s.split('"')[1]
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
            yield thread, frames
        elif in_stack and s != "...":
            frames.append(s.split("(")[0].replace("$", "."))


def seconds(iso):
    """An ISO-8601 duration (PT1M2.5S) in seconds."""
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", iso)
    h, mi, s = (float(g) if g else 0.0 for g in m.groups())
    return h * 3600 + mi * 60 + s


def instant(iso):
    """An ISO-8601 timestamp in seconds since the epoch (nanoseconds cut
    to the microseconds Python parses)."""
    m = re.fullmatch(r"(.*T\d\d:\d\d:\d\d)(?:\.(\d+))?(.*)", iso)
    zone = m.group(3).replace("Z", "+00:00") or "+00:00"
    t = datetime.datetime.fromisoformat(m.group(1) + zone).timestamp()
    return t + float("0." + (m.group(2) or "0"))


def compilations(path):
    """The values of every jdk.Compilation event in the recording."""
    events = json.loads(jfr("--json", "--events", "jdk.Compilation", path))
    return [e["values"] for e in events["recording"]["events"]]


def slow_c2(path, floor=0.1):
    durations = [seconds(c["duration"]) for c in compilations(path)
                 if c.get("compiler") == "c2"]
    return [d for d in durations if d >= floor]


def jit_by_package(path, after=0.0, top=25):
    """Print compile time and count by the compiled method's package."""
    comps = compilations(path)
    if not comps:
        print("no jdk.Compilation events")
        return
    starts = [instant(c["startTime"]) for c in comps]
    first = min(starts)
    time = collections.Counter()
    count = collections.Counter()
    for c, t in zip(comps, starts):
        if t - first < after:
            continue
        cls = ((c.get("method") or {}).get("type") or {}).get("name") or "?"
        pkg = cls.rsplit("/", 1)[0].replace("/", ".") if "/" in cls else "?"
        time[pkg] += seconds(c["duration"])
        count[pkg] += 1
    total = sum(time.values())
    print(f"{sum(count.values())} compilations of {len(comps)} "
          f"(from {after:g} s after the first), {total:.1f} s in total")
    for pkg, t in time.most_common(top):
        print(f"  {t:7.2f} s  {100.0 * t / total:5.1f} %  {count[pkg]:6d}  "
              f"{pkg}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--threads", default="pool-",
                    help="thread-name prefix of the threads to attribute "
                         "frames in (default: pool-, the runner's pool)")
    ap.add_argument("--frame", action="append",
                    help="a frame to attribute (repeatable; default: "
                         + ", ".join(FRAMES) + ")")
    ap.add_argument("--jit", action="store_true",
                    help="print JIT compile time by package instead")
    ap.add_argument("--after", type=float, default=0.0,
                    help="with --jit: skip compilations that start less "
                         "than this many seconds after the first one")
    args = ap.parse_args()
    if args.jit:
        jit_by_package(args.recording, args.after)
        return
    named = {f: f for f in args.frame} if args.frame else FRAMES
    patterns = {n: re.compile(r, re.I) for n, r in named.items()}
    template = re.compile(FRAMES[TEMPLATE], re.I)

    groups = collections.Counter()
    hits = collections.Counter()
    outside = collections.Counter()
    total = selected = 0
    for thread, frames in samples(args.recording):
        total += 1
        groups[re.sub(r"\d+", "N", thread or "?")] += 1
        if not (thread or "").startswith(args.threads):
            continue
        selected += 1
        in_template = any(template.search(f) for f in frames)
        for name, pat in patterns.items():
            if any(pat.search(f) for f in frames):
                hits[name] += 1
                outside[name] += not in_template

    def pct(n, d):
        return f"{100.0 * n / d:5.1f} %" if d else "    - "

    print(f"{total} execution samples")
    for g, n in groups.most_common():
        print(f"  {n:6d}  {pct(n, total)}  {g}")
    print(f"\n{selected} samples on threads '{args.threads}*'; "
          f"inclusive frames (samples, share, outside {TEMPLATE}):")
    for name in patterns:
        print(f"  {hits[name]:6d}  {pct(hits[name], selected)}  "
              f"{outside[name]:6d}  {name}")
    slow = slow_c2(args.recording)
    print(f"\nC2 compilations >= 100 ms: {len(slow)}, "
          f"{sum(slow):.1f} s in total")


if __name__ == "__main__":
    sys.exit(main())
