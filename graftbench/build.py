"""Build step of the graft benchmark.

Compiles the program (`src/main/scala`) together with the benchmark's own
sources (`graftbench/src`) with the Scala compiler that ships among
Spark's jars, into `<build dir>/classes`, and packs them as
`<build dir>/classes.jar` (the JVM's class data sharing archives classes
from jars only). A stamp over every source file's path and bytes skips
the compile when nothing changed; a compile drops the class data
sharing archives of the previous build.

    python3 graftbench/build.py            # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

SCALAC_OPTS = ["-nowarn", "-Ybackend-parallelism", "4"]


class CompileError(Exception):
    pass


def spark_jars():
    """The `jars` directory of the Spark install: `$SPARK_HOME/jars`, else
    the one bundled with the `pyspark` package."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(jars):
            return jars
    except ImportError:
        pass
    raise CompileError("no Spark jars found: set SPARK_HOME")


def sources(root):
    out = []
    for base in ("src/main/scala", "graftbench/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def ensure_built(root, build_dir):
    """Compile if needed; return (classes jar, whether it compiled)."""
    program = os.path.join(root, "src/main/scala")
    if not os.path.isdir(program):
        raise CompileError(f"no program sources: {program} is missing")
    srcs = sources(root)
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    jar = classes + ".jar"
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return jar, False
    for f in [stamp_file, jar] + glob.glob(os.path.join(build_dir, "cds-*")):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", classes] + SCALAC_OPTS + ["@" + argfile]
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=840).returncode
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise CompileError(f"compile failed (exit {rc}), see {log}")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return jar, True


if __name__ == "__main__":
    root = os.getcwd()
    bd = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build"))
    os.makedirs(bd, exist_ok=True)
    try:
        print(ensure_built(root, bd)[0])
    except CompileError as e:
        sys.exit(f"graftbench: {e}")
