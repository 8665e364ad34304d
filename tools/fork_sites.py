"""Hadoop shell launches in a JFR recording, grouped by command and caller.

Without its native library, Hadoop runs some local filesystem calls as
shell commands (`chmod` for RawLocalFileSystem.setPermission, `readlink`
for FileUtil.readLink, ...). Shell.runCommand starts one stderr-reader
thread per command, so every launch is one `jdk.ThreadStart` event whose
stack starts at `Shell.runCommand` and goes on to the filesystem call
that asked for it and its callers.

Record a benchmark run (from the repository root, after a build so the
compiler's JVM is not recorded too), then read the recording:

    python3 graftbench/build.py
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/stream.jfr,settings=profile \\
        python3 graftbench/run.py --workload stream_sessions --seed 5 --trace 0
    python3 tools/fork_sites.py /tmp/stream.jfr

The output gives the total, the launches with a CheckpointFileManager
frame on their stack, the count per command, and the count per
(command, caller chain). The chain is the first --depth frames outside
`java.*` and `org.apache.hadoop.*`, innermost first.
"""
import argparse
import collections
import json
import os
import shutil
import subprocess
import sys

SHELL = "org.apache.hadoop.util.Shell"
COMMANDS = {
    "org.apache.hadoop.fs.RawLocalFileSystem.setPermission": "chmod",
    "org.apache.hadoop.fs.RawLocalFileSystem.setOwner": "chown",
    "org.apache.hadoop.fs.FileUtil.readLink": "readlink",
    "org.apache.hadoop.fs.FileUtil.symLink": "ln -s",
    "org.apache.hadoop.fs.FileUtil.chmod": "chmod",
}


def jfr_tool():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "jfr")):
        return os.path.join(home, "bin", "jfr")
    found = shutil.which("jfr")
    if not found:
        sys.exit("fork_sites: no `jfr` tool on PATH or in $JAVA_HOME/bin")
    return found


def frames(event):
    """Frames innermost first, as `package.Class.method`; lambda frames
    (hidden classes) are left out."""
    trace = event["values"].get("stackTrace") or {}
    return [f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}"
            for f in trace.get("frames", [])
            if not f["method"].get("hidden") and not f["method"]["type"].get("hidden")]


def short(frame):
    cls, method = frame.rsplit(".", 1)
    return f"{cls.rsplit('.', 1)[-1]}.{method}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--depth", type=int, default=4, help="caller frames per chain")
    ap.add_argument("--top", type=int, default=20, help="chains to print")
    args = ap.parse_args()

    out = subprocess.run([jfr_tool(), "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ThreadStart", args.recording],
                         check=True, capture_output=True, text=True).stdout
    stacks = [frames(e) for e in json.loads(out)["recording"]["events"]]
    launches = [s for s in stacks if s and s[0] == f"{SHELL}.runCommand"]

    by_command = collections.Counter()
    by_chain = collections.Counter()
    checkpoint = 0
    for s in launches:
        rest = [f for f in s if not f.startswith(SHELL + ".") and not f.startswith(SHELL + "$")]
        site = rest[0] if rest else "?"
        command = f"{COMMANDS.get(site, '?')} ({short(site)})" if site != "?" else "?"
        chain = [short(f) for f in rest[1:]
                 if not f.startswith(("java.", "jdk.", "sun.", "org.apache.hadoop."))][:args.depth]
        by_command[command] += 1
        by_chain[(command, " < ".join(chain) or "-")] += 1
        checkpoint += any("CheckpointFileManager" in f for f in s)

    print(f"shell launches: {len(launches)}")
    print(f"under CheckpointFileManager: {checkpoint}")
    for command, n in by_command.most_common():
        print(f"{n:6d}  {command}")
    print()
    for (command, chain), n in by_chain.most_common(args.top):
        print(f"{n:6d}  {command}  {chain}")
    if len(by_chain) > args.top:
        print(f"        ... {len(by_chain) - args.top} more chains")


if __name__ == "__main__":
    main()
