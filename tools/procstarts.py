#!/usr/bin/env python3
"""Summarise the OS processes a JVM started, from a JFR recording.

Reads the `jdk.ProcessStart` events of one or more recordings (through the
JDK's `jfr print --json`) and counts them by command and by call site: the
first stack frame outside the JDK and Hadoop, i.e. the engine or Spark code
whose file operation forked. A last column counts the events whose stack
holds `org.apache.hadoop.util.Shell` (Hadoop's fork helper).

    python3 tools/procstarts.py run.jfr [more.jfr ...]

Record a run with e.g.
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/rec/ <java ...>
(`filename` naming a directory makes one file per JVM in it).
"""
import collections
import json
import os
import subprocess
import sys

SKIP = ("java.", "jdk.", "sun.", "org.apache.hadoop.")
SHELL = "org.apache.hadoop.util.Shell"


def events(path):
    # `jfr print` cuts stacks to 5 frames unless told otherwise
    cmd = ["jfr", "print", "--json", "--stack-depth", "64", "--events", "jdk.ProcessStart", path]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frames(ev):
    st = ev["values"].get("stackTrace") or {}
    # the JSON form names types with slashes (java/lang/ProcessBuilder)
    return [f["method"]["type"]["name"].replace("/", ".") + "." + f["method"]["name"]
            for f in st.get("frames", [])]


def main(paths):
    if not paths:
        sys.exit(__doc__)
    rows = collections.Counter()
    shell = collections.Counter()
    for p in paths:
        for ev in events(p):
            cmd = os.path.basename(ev["values"]["command"].split()[0]) if ev["values"]["command"] else "?"
            fs = frames(ev)
            site = next((f for f in fs if not f.startswith(SKIP)), fs[0] if fs else "?")
            rows[(cmd, site)] += 1
            shell[(cmd, site)] += any(f.startswith(SHELL) for f in fs)
    total = sum(rows.values())
    print(f"{total} process starts, {sum(shell.values())} through {SHELL}")
    print(f"{'count':>6} {'shell':>6}  {'command':<10} call site")
    for (cmd, site), n in rows.most_common():
        print(f"{n:6d} {shell[(cmd, site)]:6d}  {cmd:<10} {site}")


if __name__ == "__main__":
    main(sys.argv[1:])
