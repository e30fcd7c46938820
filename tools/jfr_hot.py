#!/usr/bin/env python3
"""Hot frames of a JFR recording's Spark task threads.

Usage:
    python3 tools/jfr_hot.py <rec.jfr> [--match REGEX] [--within REGEX]
                             [--top N] [--thread PREFIX] [--depth N]

Reads the recording's jdk.ExecutionSample events (through the JDK's `jfr`
tool) from threads whose name starts with PREFIX (default
"Executor task launch", Spark's executor task threads) and prints, per
frame, its self share (the sample's top frame) and its inclusive share
(anywhere on the sample's stack, counted once per sample), both as a
percentage of those threads' samples. Frames are `class.method`.

--match REGEX keeps only the frames whose name matches, and also prints
the share of samples with at least one matching frame on their stack: the
inclusive share of a group of frames, counted once per sample. For
example, the convert's string path:

    --match 'BinCol\\.idOf|ColumnVector\\.putByteArray|UTF8String\\.fromString|Dns\\$\\.parseName'

--within REGEX counts only the samples with a matching frame on their
stack, and every share is then a share of those: --within
'PcapColumnarWrite\\$\\.writePartition' gives shares of the convert's write
pass (its scan, dissection, vector fill and encode all run inside it).

jdk.ExecutionSample samples threads while they run Java code only. A thread
inside native code (zstd's JNI compressor, file reads and writes) is not
sampled there (JFR records it as jdk.NativeMethodSample), so the shares
below are of Java-executing samples, and native work is not in them.

Record a run with, e.g.,
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=rec.jfr,settings=profile
"""
import argparse
import collections
import re
import subprocess
import sys

FRAME = re.compile(r"^\s{4}(\S.*?)\((.*)\)(?: line: \d+)?(?: bci: \d+)?\s*$")
THREAD = re.compile(r'^\s*sampledThread = "(.*)" \(')


def samples(rec, prefix, depth):
    """Yield each matching thread's stack (top frame first) as a list of
    `class.method` names."""
    p = subprocess.Popen(["jfr", "print", "--stack-depth", str(depth),
                          "--events", "jdk.ExecutionSample", rec],
                         stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    thread, stack, in_stack = None, [], False
    for line in p.stdout:
        if line.startswith("jdk.ExecutionSample {"):
            thread, stack, in_stack = None, [], False
        elif not in_stack:
            m = THREAD.match(line)
            if m:
                thread = m.group(1)
            elif line.strip() == "stackTrace = [":
                in_stack = True
        elif line.strip() == "]":
            in_stack = False
            if thread is not None and thread.startswith(prefix):
                yield stack
        else:
            m = FRAME.match(line)
            if m:
                stack.append(m.group(1))
    if p.wait() != 0:
        sys.exit(f"jfr print failed on {rec}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rec")
    ap.add_argument("--match", help="only frames matching this regex")
    ap.add_argument("--within", help="only samples with a frame matching this regex")
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--thread", default="Executor task launch")
    ap.add_argument("--depth", type=int, default=256,
                    help="frames read per stack; deeper frames are not counted")
    a = ap.parse_args()
    pat = re.compile(a.match) if a.match else None
    within = re.compile(a.within) if a.within else None

    total = 0
    grouped = 0
    self_n = collections.Counter()
    incl_n = collections.Counter()
    for stack in samples(a.rec, a.thread, a.depth):
        seen = set(stack)
        if within and not any(within.search(f) for f in seen):
            continue
        total += 1
        if stack:
            self_n[stack[0]] += 1
        for f in seen:
            incl_n[f] += 1
        if pat and any(pat.search(f) for f in seen):
            grouped += 1
    scope = f' with a frame matching /{a.within}/' if within else ""
    if total == 0:
        sys.exit(f'no jdk.ExecutionSample on threads named "{a.thread}*"{scope} in {a.rec}')

    def pct(n):
        return 100.0 * n / total

    print(f'{total} jdk.ExecutionSample events on "{a.thread}*" threads{scope} '
          "(Java frames only: threads in native code, such as zstd's JNI, "
          "are not sampled)")
    if pat:
        print(f"samples with a frame matching /{a.match}/: "
              f"{grouped} ({pct(grouped):.1f}%)")
    frames = [f for f in incl_n if pat is None or pat.search(f)]
    print(f"{'self%':>7} {'incl%':>7}  frame")
    for f in sorted(frames, key=lambda f: (-self_n[f], -incl_n[f]))[:a.top]:
        print(f"{pct(self_n[f]):7.2f} {pct(incl_n[f]):7.2f}  {f}")
    if pat is None:
        print("\nby inclusive share:")
        print(f"{'self%':>7} {'incl%':>7}  frame")
        for f in sorted(frames, key=lambda f: -incl_n[f])[:a.top]:
            print(f"{pct(self_n[f]):7.2f} {pct(incl_n[f]):7.2f}  {f}")


if __name__ == "__main__":
    main()
