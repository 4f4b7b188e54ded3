#!/usr/bin/env python3
"""Print the child processes a JFR recording saw started, grouped two ways.

    python3 tools/jfr_forks.py <file.jfr> [top]     (default top: 15)

Reads `jfr print --events jdk.ProcessStart` (the `jfr` tool ships with the
JDK) and prints the total, then the starts per program (the command's first
word) and per first caller outside Hadoop and the JDK: the top stack frame
whose class is not `java.`, `javax.`, `jdk.`, `sun.` or `org.apache.hadoop.`.
A thread waiting on a child process is off-CPU, so `jdk.ExecutionSample`
alone never shows that time. Record the process starts with stacks, e.g.
`-XX:StartFlightRecording=settings=profile,filename=run.jfr`.
"""
import collections
import re
import subprocess
import sys

SKIP = ("java.", "javax.", "jdk.", "sun.", "org.apache.hadoop.")
FRAME = re.compile(r"^\s+([\w$.]+)\.([\w$<>]+)\(.*\)(?:\s+line:\s*\d+)?")


def starts(path):
    """(command, [frame, ...]) per jdk.ProcessStart event, top frame first."""
    out = subprocess.run(["jfr", "print", "--stack-depth", "64", "--events",
                          "jdk.ProcessStart", path],
                         check=True, capture_output=True, text=True).stdout
    events, command, frames, in_stack = [], None, [], False
    for line in out.splitlines():
        s = line.strip()
        if s.startswith("jdk.ProcessStart"):
            command, frames, in_stack = None, [], False
        elif s.startswith("command = "):
            command = s[len("command = "):].strip('"')
        elif s.startswith("stackTrace = ["):
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack and FRAME.match(line):
            m = FRAME.match(line)
            frames.append(f"{m.group(1)}.{m.group(2)}")
        elif s == "}" and command is not None:
            events.append((command, frames))
            command = None
    return events


def caller(frames):
    for f in frames:
        if not f.startswith(SKIP):
            return f
    return "(none outside Hadoop and the JDK)"


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    top = int(sys.argv[2]) if len(sys.argv) == 3 else 15
    events = starts(sys.argv[1])
    print(f"process starts: {len(events)}")
    for title, key in (("by program", lambda e: e[0].split(" ")[0]),
                       ("by first caller outside Hadoop", lambda e: caller(e[1]))):
        print(f"\n{title}:")
        for k, n in collections.Counter(key(e) for e in events).most_common(top):
            print(f"{n:7d}  {k}")


if __name__ == "__main__":
    main()
