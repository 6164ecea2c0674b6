"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's (perfbench/src/main/scala)
into one class directory, with the Scala compiler that ships in Spark's
jar directory. No dependency resolution and no network: the classpath is
exactly $SPARK_HOME/jars (default /opt/spark), the repo's own
`unmanagedBase`.

The output goes to $CARGO_TARGET_DIR (default .bench_build) at the repo
root. A stamp over every source file's path and content skips the
compile when nothing changed.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def sources():
    srcs = []
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src", "main", "scala")):
        srcs += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    if not any(s.startswith(os.path.join(ROOT, "src", "main")) for s in srcs):
        raise SystemExit(f"perfbench: no program sources under {ROOT}/src/main/scala")
    return srcs


def build():
    """Returns the class directory, compiling first if sources changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", tmp, "-nowarn", "-deprecation:false"] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    print(build())
