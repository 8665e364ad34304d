#!/usr/bin/env python3
"""The graft benchmark: four seeded closed-loop workloads.

Run from the repository root:

    python3 graftbench/run.py --workload gexp_pipeline --seed 1 --seconds 4 --trace 0

`--workload` is one of gexp_pipeline, table_lifecycle, stream_sessions,
corpus_dedup_search, or `all` (every workload in one JVM, for reading).
`--trace 0` reports the end-to-end metrics of BENCHMARK.json; `--trace 1`
reports its per-layer metrics. The last line of standard output is one
JSON object: correct, attempted, failed, metrics. Lines before it name
every metric with its unit, the inputs' fingerprint and any failed check.

Everything the run writes goes under `.bench_build` (or
`$CARGO_TARGET_DIR`): the compiled classes, a temporary root that is
removed at the end, and `results/` with the JVM log, the raw result and
the recorded spans. A run fails if it changed any other file.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the source tree unchanged
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 175
WORKLOADS = ["gexp_pipeline", "table_lifecycle", "stream_sessions", "corpus_dedup_search"]


def fail(msg):
    sys.stderr.write(f"graftbench: {msg}\n")
    sys.exit(1)


def tree_state(root, build_dir):
    """What must not change: git's view of the work tree when there is
    one, else (path, size, mtime) of every file outside the build dir."""
    try:
        top = subprocess.run(["git", "-C", root, "rev-parse", "--show-toplevel"],
                             capture_output=True, text=True, timeout=60)
        if top.returncode == 0 and os.path.realpath(top.stdout.strip()) == os.path.realpath(root):
            return subprocess.run(["git", "-C", root, "status", "--porcelain", "--untracked-files=all"],
                                  capture_output=True, text=True, timeout=60, check=True).stdout
    except (OSError, subprocess.SubprocessError):
        pass
    state = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if os.path.join(d, x) != build_dir]
        for f in files:
            st = os.stat(os.path.join(d, f))
            state.append((os.path.relpath(os.path.join(d, f), root), st.st_size, st.st_mtime_ns))
    return sorted(state)


def cds_options(build_dir):
    """Class data sharing. The first run after a build dumps the classes
    its JVM loaded (Spark's and the program's) into an archive, a slower
    run, once; later runs of every workload map the archive instead of
    loading and verifying those classes again. A dump that leaves no
    archive is not retried."""
    archive = os.path.join(build_dir, "cds-classes.jsa")
    tried = archive + ".tried"
    if os.path.exists(archive):
        return [f"-XX:SharedArchiveFile={archive}"]
    if os.path.exists(tried):
        return []
    open(tried, "w").close()
    return [f"-XX:ArchiveClassesAtExit={archive}"]


def run_jvm(args, root, build_dir, classes, deadline):
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    tmp = os.path.join(build_dir, "tmp", run_id)
    results = os.path.join(build_dir, "results")
    for d in ("jvm", "spark-local", "data"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{run_id}.json")
    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC"] + cds_options(build_dir)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}/jvm", f"-Dspark.local.dir={tmp}/spark-local",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
            "-cp", f"{classes}{os.pathsep}{jars}", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
            "--tmp", os.path.join(tmp, "data"), "--out", out, "--spans", results]
    log_path = os.path.join(results, f"{run_id}.log")
    try:
        with open(log_path, "w") as log:
            # cwd inside the temp root: stray relative writes land there
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=tmp)
            try:
                rc = p.wait(timeout=max(10.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"run exceeded its time limit; log: {log_path}")
        if rc != 0 or not os.path.exists(out):
            with open(log_path, errors="replace") as fh:
                sys.stderr.write(fh.read()[-3000:])
            fail(f"benchmark JVM exited with {rc}; log: {log_path}")
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def pick(result, wanted):
    """The named metrics, checked for presence, unit and a numeric value."""
    got = {}
    for m in wanted:
        r = result["metrics"].get(m["name"])
        if r is None or not isinstance(r.get("value"), (int, float)):
            fail(f"{result['workload']}: metric {m['name']} missing or not a number: {r}")
        if r["unit"] != m["unit"]:
            fail(f"{result['workload']}: metric {m['name']} has unit {r['unit']}, BENCHMARK.json says {m['unit']}")
        got[m["name"]] = {"value": r["value"], "unit": r["unit"]}
    return got


def report(result):
    w = result["workload"]
    inp = result["inputs"]
    sizes = " ".join(f"{k}={v}" for k, v in inp.items() if k != "sha256")
    print(f"graftbench {w} seed={result['seed']} inputs sha256={inp['sha256']} {sizes}")
    print(f"graftbench {w} iterations={result['iterations']} untraced_ok={result['untraced_ok']} "
          f"traced_ok={result['traced_ok']} attempted={result['attempted']} failed={result['failed']}")
    for name, m in result["metrics"].items():
        print(f"graftbench {w} {name} = {m['value']} {m['unit']}")
    for f in result["failures"]:
        print(f"graftbench {w} FAILED {f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    start = time.monotonic()
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("run from the repository root (BENCHMARK.json not found)")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in WORKLOADS + ["all"]:
        fail(f"unknown workload {args.workload}; choose from {WORKLOADS} or all")

    build_dir = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    before = tree_state(root, build_dir)
    try:
        classes, compiled = build.ensure_built(root, build_dir)
    except (build.CompileError, subprocess.TimeoutExpired) as e:
        fail(str(e))
    # a run that had to compile gets the full limit for itself
    limit = RUN_LIMIT_S * (len(WORKLOADS) if args.workload == "all" else 1)
    deadline = (time.monotonic() if compiled else start) + limit

    results = run_jvm(args, root, build_dir, classes, deadline)
    if tree_state(root, build_dir) != before:
        fail("the run changed files outside its build directory")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    for r in results:
        report(r)
    if args.workload == "all":
        metrics = {f"{r['workload']}/{k}": v for r in results for k, v in pick(r, wanted).items()}
    else:
        metrics = pick(results[0], wanted)
    print(json.dumps({
        "correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
